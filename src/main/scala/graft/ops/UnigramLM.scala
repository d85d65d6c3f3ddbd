package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model quality scoring — the Spark-native stand-in for
  * CCNet's KenLM perplexity filter (Wenzek et al. 2020): train a bounded
  * unigram model on a reference corpus, score every document by average
  * per-token log-likelihood, and gate on a threshold. Low-likelihood
  * documents (gibberish, boilerplate soup, wrong-language text) score far
  * below prose.
  *
  * Scale shape: training is explode -> two-phase hash agg (map-side
  * combine) -> TakeOrdered(V) — the only shuffle is on term keys, and the
  * driver holds just the top-V vocabulary (V ~ 10^4-10^5 at production
  * scale). Scoring is a ZERO-shuffle projection: the vocab rides to
  * executors inside [[graft.functions.NgramLogProbFp]] (the one LM kernel;
  * the unigram model is its order-1 case), so at 100 TB it runs at scan
  * speed. All scores are fixed-point integers (per-term
  * `round(ln(c/N)*1e6)`), order-independent and SQL-oracle-reproducible.
  */
object UnigramLM {

  /** Tokenization shared with the oracle: maximal `[a-z0-9]+` runs of the
    * lowercased text (same class the repetition kernel uses). */
  val tokenPattern = "[a-z0-9]+"
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(tokenPattern), lit(0))

  /** Trained model: top-V terms with corpus counts, plus the TOTAL token
    * count (including out-of-vocabulary tokens, which score as count 1). */
  case class Model(vocab: Map[String, Long], totalTokens: Long) {
    require(totalTokens > 0, "empty training corpus")
    def ngram: NgramModel = NgramModel(Seq(vocab), totalTokens)
    def logProbFp(tokensCol: Column): Column = ngram.logProbFp(tokensCol)
  }

  /** Train on a corpus. Vocabulary ties at the V boundary break
    * deterministically by (count desc, term asc). */
  def train(df: DataFrame, textCol: String, vocabSize: Int): Model = {
    val m = trainNgram(df, textCol, Seq(vocabSize))
    Model(m.grams(0), m.totalTokens)
  }

  /** Attach `logprob_fp` (fixed-point total log-likelihood) and `n_tok`
    * (scored token count) to every row. Documents with no tokens score
    * (0, 0); null text yields null columns. */
  def score(df: DataFrame, textCol: String, model: Model): DataFrame =
    scoreNgram(df, textCol, model.ngram)

  /** Interpolated-bigram model: unigram vocabulary + top-B bigram counts.
    * Token i scores `ln(0.5·c(prev,cur)/c(prev) + 0.5·c(cur)/N)` when the
    * predecessor is in-vocabulary; the first token and OOV-predecessor
    * tokens back off to the plain unigram — the next rung toward CCNet's
    * 5-gram KenLM, still fully SQL-oracle-reproducible (dyadic 0.5). */
  case class BigramModel(unigrams: Map[String, Long], bigrams: Map[String, Long],
      totalTokens: Long) {
    require(totalTokens > 0, "empty training corpus")
    def ngram: NgramModel = NgramModel(Seq(unigrams, bigrams), totalTokens)
    def logProbFp(tokensCol: Column): Column = ngram.logProbFp(tokensCol)
  }

  /** Train unigram + bigram vocabularies. Ties at either V boundary break
    * deterministically by (count desc, key asc).
    *
    * `trainFraction` is the SCALE path, not a docstring: the n-gram count
    * aggs shuffle one string per token occurrence, so at corpus scale train
    * on a deterministic reference sample (`Sampling.deterministicSample` by
    * `idCol`) the way CCNet trains its KenLM on Wikipedia — the model only
    * needs stable counts, and scoring (the full-corpus pass) stays a
    * zero-shuffle projection regardless. Default 1.0 trains on everything
    * (small corpora / oracle parity); any fraction < 1.0 requires `idCol`.
    * The sample is hash-gated: deterministic, parallelism-independent. */
  def trainBigram(df: DataFrame, textCol: String, vocabSize: Int,
      bigramSize: Int, trainFraction: Double = 1.0,
      idCol: String = ""): BigramModel = {
    val m = trainNgram(df, textCol, Seq(vocabSize, bigramSize), trainFraction, idCol)
    BigramModel(m.grams(0), m.grams(1), m.totalTokens)
  }

  /** Shared sample-gating for every trainer that offers `trainFraction`
    * (the n-gram trainers here and [[QualityClassifier.train]]) — one
    * implementation so the validation rules cannot drift. */
  private[ops] def trainingSlice(df: DataFrame, trainFraction: Double, idCol: String): DataFrame = {
    require(trainFraction > 0 && trainFraction <= 1, "trainFraction in (0,1]")
    if (trainFraction >= 1.0) df
    else {
      require(idCol.nonEmpty, "idCol required when trainFraction < 1")
      Sampling.deterministicSample(df, idCol, trainFraction)
    }
  }

  /** Attach bigram-interpolated `logprob_fp` and `n_tok`. */
  def scoreBigram(df: DataFrame, textCol: String, model: BigramModel): DataFrame =
    scoreNgram(df, textCol, model.ngram)

  /** Interpolated-TRIGRAM model — the next rung toward CCNet's 5-gram
    * KenLM. Token i scores, by longest available context:
    *  - `ln(0.5·c3(p2,p1,cur)/c2(p2,p1) + 0.25·c2(p1,cur)/c1(p1)
    *       + 0.25·c1(cur)/N)` when p1 is in-vocab AND (p2,p1) is a known
    *    bigram (every ratio <= 1, dyadic weights summing to 1 ⇒ p in (0,1]);
    *  - the bigram interpolation `ln(0.5·c2/c1 + 0.5·c1/N)` when only p1 is
    *    known;
    *  - the plain unigram when the predecessor is unknown or absent.
    * All weights dyadic ⇒ the IEEE arithmetic mirrors exactly in SQL. */
  case class TrigramModel(unigrams: Map[String, Long], bigrams: Map[String, Long],
      trigrams: Map[String, Long], totalTokens: Long) {
    require(totalTokens > 0, "empty training corpus")
    def ngram: NgramModel = NgramModel(Seq(unigrams, bigrams, trigrams), totalTokens)
    def logProbFp(tokensCol: Column): Column = ngram.logProbFp(tokensCol)
  }

  /** Train unigram + bigram + trigram vocabularies (same deterministic
    * tie-breaks; same `trainFraction` scale path as [[trainBigram]]). */
  def trainTrigram(df: DataFrame, textCol: String, vocabSize: Int,
      bigramSize: Int, trigramSize: Int, trainFraction: Double = 1.0,
      idCol: String = ""): TrigramModel = {
    val m = trainNgram(df, textCol, Seq(vocabSize, bigramSize, trigramSize),
      trainFraction, idCol)
    TrigramModel(m.grams(0), m.grams(1), m.grams(2), m.totalTokens)
  }

  /** Attach trigram-interpolated `logprob_fp` and `n_tok`. */
  def scoreTrigram(df: DataFrame, textCol: String, model: TrigramModel): DataFrame =
    scoreNgram(df, textCol, model.ngram)

  /** ORDER-N interpolated model — the full generalization of the ladder
    * (order 5 = the published CCNet filter shape, a 5-gram KenLM).
    * `grams(j)` holds the bounded (j+1)-gram vocabulary; scoring dispatches
    * on the longest available context with dyadic weights
    * `0.5, 0.25, …, 0.5^L` (the unigram term sharing the lowest weight) —
    * see [[graft.functions.NgramLogProbFp]] for the exact arithmetic.
    * [[Model]], [[BigramModel]] and [[TrigramModel]] are its order-1, -2
    * and -3 views (`ngram`) and score through it. */
  case class NgramModel(grams: Seq[Map[String, Long]], totalTokens: Long) {
    require(totalTokens > 0, "empty training corpus")
    def order: Int = grams.length
    def logProbFp(tokensCol: Column): Column =
      graft.functions.TextFunctions.ngram_logprob_fp(tokensCol, grams, totalTokens)
  }

  /** Adjacent-word k-grams as U+0001-joined strings (in-row — token
    * occurrences never shuffle; only per-doc k-gram instances explode into
    * the count agg). k = 1 is the tokens themselves. */
  private def ngramsCol(toks: Column, k: Int): Column =
    if (k == 1) toks
    else {
      val m = greatest(size(toks) - (k - 1), lit(0))
      (2 to k).foldLeft(slice(toks, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(toks, lit(j), m), (a, b) => concat(a, lit("\u0001"), b))
      }
    }

  /** Train bounded vocabularies for every order 1..`sizes.length` in one
    * call — `sizes(j)` caps the (j+1)-gram vocabulary, ties at every
    * boundary break deterministically by (count desc, key asc); same
    * `trainFraction` scale path as [[trainBigram]]. The training slice is
    * tokenized ONCE: its narrow `toks` column is persisted, the first
    * action (the total token count) materializes it, and every level's
    * explode→count agg (map-side combine; the only shuffle is on n-gram
    * keys) reads the cache instead of re-running the caller's plan (scan,
    * gates, sample) per level. The cache is released before returning;
    * the driver holds only the top-K maps. */
  def trainNgram(df: DataFrame, textCol: String, sizes: Seq[Int],
      trainFraction: Double = 1.0, idCol: String = ""): NgramModel = {
    require(sizes.nonEmpty, "need at least a unigram vocabulary size")
    val toks = trainingSlice(df, trainFraction, idCol)
      .select(tokens(col(textCol)).as("toks")).persist()
    try {
      val total = toks.select(sum(size(col("toks")))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      val grams = sizes.zipWithIndex.map { case (cap, j) =>
        toks.select(explode(ngramsCol(col("toks"), j + 1)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("g")).limit(cap)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      NgramModel(grams, total)
    } finally toks.unpersist()
  }

  /** Attach order-N interpolated `logprob_fp` and `n_tok`. */
  def scoreNgram(df: DataFrame, textCol: String, model: NgramModel): DataFrame =
    withScore(df, model.logProbFp(tokens(col(textCol))))

  /** Unpack a scoring kernel's struct into `logprob_fp` and `n_tok`. */
  private def withScore(df: DataFrame, st: Column): DataFrame =
    df.withColumn("logprob_fp", st("logprob_fp"))
      .withColumn("n_tok", st("n_tok"))

  /** EXECUTOR-SHARED order-N model: the vocabulary maps ride a Spark
    * broadcast and the scoring trie builds once per executor JVM — same
    * arithmetic as [[NgramModel]], but the model-size ceiling moves from
    * the embedded form's measured ~250 k entries (maps serialized into the
    * expression, trie rebuilt per task) to KenLM-class sizes bounded only
    * by executor memory. Use for reference models above a few hundred
    * thousand n-grams; the embedded form stays simpler for small ones. */
  final case class BroadcastNgramModel(
      bc: org.apache.spark.broadcast.Broadcast[(Seq[Map[String, Long]], Long)]) {
    def logProbFp(tokensCol: Column): Column =
      graft.functions.TextFunctions.ngram_logprob_fp_broadcast(tokensCol, bc)
    /** Release the broadcast blocks on every executor (call when the model
      * is retired; scoring after this fails — rebroadcast instead). */
    def destroy(): Unit = bc.destroy()
  }

  /** Broadcast a trained model for executor-shared scoring. */
  def broadcastModel(spark: org.apache.spark.sql.SparkSession,
      model: NgramModel): BroadcastNgramModel =
    BroadcastNgramModel(spark.sparkContext.broadcast((model.grams, model.totalTokens)))

  /** [[scoreNgram]] over the executor-shared model form. */
  def scoreNgramBroadcast(df: DataFrame, textCol: String,
      model: BroadcastNgramModel): DataFrame =
    withScore(df, model.logProbFp(tokens(col(textCol))))

  /** Keep rows whose AVERAGE per-token log-likelihood is at least
    * `minAvgFp` (fixed-point, e.g. -9_000_000 = avg ln-prob >= -9.0), in
    * multiply-form so no division enters the plan. Tokenless rows drop. */
  def likelihoodGate(df: DataFrame, textCol: String, model: Model,
      minAvgFp: Long): DataFrame = {
    val scored = score(df, textCol, model)
    scored.filter(col("n_tok") > 0 &&
        col("logprob_fp") >= lit(minAvgFp) * col("n_tok"))
      .drop("logprob_fp", "n_tok")
  }

  // ------------------------------------------------------------------
  // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020 §4.3:
  // documents are split into equal thirds by reference-LM perplexity, and
  // downstream training selects or weights the buckets)

  /** Fixed-point perplexity proxy: `(-logprob_fp) div n_tok` — the negated
    * average per-token log-likelihood in the same 1e6 fixed-point scale as
    * the scoring kernels (lower = more fluent). TRUE integral division
    * (both operands are non-negative, so truncation == floor == DuckDB
    * `//`), not a double round-trip — a quotient within 1 ulp of an
    * integer must not flip a bucket between engines. Rows with
    * `n_tok = 0` yield null (filter them before bucketing). */
  def perplexityFp(logprobFpCol: Column, nTokCol: Column): Column =
    graft.Constraints.intDiv(-logprobFpCol, nTokCol)

  private def bucketize(scored: DataFrame, pplCol: String,
      tHead: Long, tMid: Long): DataFrame =
    scored.withColumn("bucket",
      when(col(pplCol) <= tHead, lit("head"))
        .when(col(pplCol) <= tMid, lit("middle"))
        .otherwise(lit("tail")))

  /** Thresholds as EXACT order statistics of a deterministic hash-sample:
    * `t_head` = the ceil(n/3)-th smallest sampled perplexity, `t_mid` = the
    * ceil(2n/3)-th (1-indexed; ties on the value keep every equal doc in
    * the lower bucket, so buckets are value-contiguous and reproducible at
    * any parallelism). The sample (not the corpus) is collected to the
    * driver — CCNet's own cutoffs come from a sampled histogram — and
    * `maxSample` fails loudly before the collect can grow unbounded; above
    * it, lower `sampleFraction` or use [[perplexityBuckets]] (sketch-based,
    * never collects values). */
  def perplexityBucketsExact(scored: DataFrame, idCol: String, pplCol: String,
      sampleFraction: Double = 0.3, salt: Long = 0L,
      maxSample: Int = 2000000): DataFrame = {
    // SCORE ONCE (guide §1.2 "don't compute things you throw away"): the
    // threshold sample and the bucketed output both derive from `scored`,
    // whose LM-scoring expression would otherwise be re-evaluated per
    // consuming operator (the embedded-model kernel re-runs in the sampling
    // pass AND in every Filter/Project referencing a derived column —
    // measured 1.8 s vs 0.7 s on the sf0.1 ccnet path). Persisting the
    // frame makes the sampling pass materialize it once; every later pass
    // reads cached rows. The cache is MEMORY_AND_DISK (it spills rather
    // than fails) and is released after the first materializing action on
    // the returned frame, so a long-lived session accretes nothing. It
    // holds EVERY column of `scored`: a narrow frame (id, ppl, group +
    // score columns) caches O(rows × tens of bytes), while whole document
    // rows — what [[Pipeline.ccnetSelect]] passes — cache the text too.
    val cached = scored.persist()
    val release = () => { cached.unpersist(); () }
    try {
      val samp = Sampling.deterministicSample(
        cached.select(col(idCol), col(pplCol)), idCol, sampleFraction, salt)
      val vals = samp.select(col(pplCol).cast("long"))
        .limit(maxSample + 1).collect().map(_.getLong(0))
      require(vals.nonEmpty, "perplexityBucketsExact: empty threshold sample")
      require(vals.length <= maxSample,
        s"perplexityBucketsExact: threshold sample exceeds maxSample=$maxSample — " +
          "lower sampleFraction or use the sketch-based perplexityBuckets")
      val sorted = vals.sorted
      val n = sorted.length
      // ceil(k·n/3) via integer arithmetic — mirrored by the SQL oracle
      val tHead = sorted((n + 2) / 3 - 1)
      val tMid = sorted((2 * n + 2) / 3 - 1)
      graft.AutoRelease.onFirstMaterialize(
        bucketize(cached, pplCol, tHead, tMid), release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** PER-GROUP exact tertiles — CCNet's cutoffs are per LANGUAGE, not
    * global (a fluent Basque document must not land in "tail" because the
    * reference corpus is English-heavy). Thresholds are the same
    * ceil(n/3)/ceil(2n/3) order statistics as [[perplexityBucketsExact]],
    * computed independently per `groupCol` value from one shared
    * hash-sample; the bucket assignment compiles to a when-chain (groups
    * are languages — small cardinality, enforced by `maxGroups` — so no
    * join enters the plan). A row whose group has NO sampled thresholds
    * fails loudly AT EVALUATION (raise_error), not silently: emitting a
    * bucket for a language with no cutoffs is exactly the bug the
    * per-group form exists to prevent — raise `sampleFraction` or bucket
    * such groups separately. Null groups are a group. */
  def perplexityBucketsExactByGroup(scored: DataFrame, idCol: String,
      pplCol: String, groupCol: String, sampleFraction: Double = 0.3,
      salt: Long = 0L, maxSample: Int = 2000000,
      maxGroups: Int = 10000): DataFrame = {
    // score once: same cache discipline (MEMORY_AND_DISK, every column of
    // `scored`) and rationale as [[perplexityBucketsExact]] — the sampling
    // pass materializes the scored frame, the bucket chain reads it back,
    // and the cache self-releases after the first action on the returned
    // frame.
    val cached = scored.persist()
    val release = () => { cached.unpersist(); () }
    try graft.AutoRelease.onFirstMaterialize(cached.withColumn("bucket",
        groupTertiles(cached, idCol, pplCol, groupCol, sampleFraction, salt,
          maxSample, maxGroups)), release)
    catch { case e: Throwable => release(); throw e }
  }

  /** The per-group bucket expression behind [[perplexityBucketsExactByGroup]]
    * and [[Pipeline.ccnetSelect]]: collects the (group, ppl) hash-sample of
    * `scored` (one action, `maxSample`-guarded) and compiles each group's
    * tertile thresholds into a when-chain whose fallback raises for a group
    * the sample never saw. */
  private[ops] def groupTertiles(scored: DataFrame, idCol: String,
      pplCol: String, groupCol: String, sampleFraction: Double, salt: Long,
      maxSample: Int, maxGroups: Int): Column = {
    val samp = Sampling.deterministicSample(
      scored.select(col(idCol), col(groupCol), col(pplCol)), idCol,
      sampleFraction, salt)
    val rows = samp.select(col(groupCol).cast("string").as("g"),
        col(pplCol).cast("long").as("p"))
      .limit(maxSample + 1).collect()
    require(rows.nonEmpty, "perplexityBucketsExactByGroup: empty threshold sample")
    require(rows.length <= maxSample,
      s"perplexityBucketsExactByGroup: threshold sample exceeds maxSample=$maxSample — " +
        "lower sampleFraction or use the sketch-based perplexityBucketsByGroup")
    val byGroup = rows.groupBy(r => Option(r.getString(0)))
    require(byGroup.size <= maxGroups,
      s"perplexityBucketsExactByGroup: ${byGroup.size} groups exceed maxGroups=$maxGroups — " +
        "a high-cardinality group column would compile an unbounded when-chain; " +
        "bucket per-partition or use a join-based formulation")
    byGroup.toSeq.sortBy(_._1).foldRight(
      // unreached when every scored group was sampled; otherwise: loud
      raise_error(concat(
        lit("perplexityBucketsExactByGroup: no sampled thresholds for group "),
        coalesce(col(groupCol).cast("string"), lit("NULL")))).cast("string")
    ) { case ((g, rs), acc) =>
      val sorted = rs.map(_.getLong(1)).sorted
      val n = sorted.length
      val inner = when(col(pplCol) <= sorted((n + 2) / 3 - 1), lit("head"))
        .when(col(pplCol) <= sorted((2 * n + 2) / 3 - 1), lit("middle"))
        .otherwise(lit("tail"))
      val cond = g.map(v => col(groupCol).cast("string") === v)
        .getOrElse(col(groupCol).isNull)
      when(cond, inner).otherwise(acc)
    }
  }

  /** Sketch-based thresholds for the 100 TB path: `approx_percentile` over
    * the same deterministic hash-sample — the driver receives exactly two
    * numbers, never the sample. Bucket EDGES are approximate (bounded by
    * the sketch accuracy); bucket semantics (value-contiguous, lower
    * bucket keeps ties) are identical to the exact form. */
  def perplexityBuckets(scored: DataFrame, idCol: String, pplCol: String,
      sampleFraction: Double = 0.3, salt: Long = 0L,
      accuracy: Int = 10000): DataFrame = {
    val samp = Sampling.deterministicSample(
      scored.select(col(idCol), col(pplCol)), idCol, sampleFraction, salt)
    val r = samp.select(percentile_approx(col(pplCol),
      array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("t")).head()
    require(!r.isNullAt(0), "perplexityBuckets: empty threshold sample")
    val ts = r.getSeq[Long](0)
    bucketize(scored, pplCol, ts(0), ts(1))
  }

  /** PER-GROUP sketch path: one grouped `approx_percentile` over the
    * hash-sample — the driver never sees the sample, and the per-group
    * threshold table (bounded by group cardinality) broadcasts back into
    * the bucket projection. Rows whose group has no sampled thresholds
    * fail loudly at evaluation, matching the exact form's contract. */
  def perplexityBucketsByGroup(scored: DataFrame, idCol: String,
      pplCol: String, groupCol: String, sampleFraction: Double = 0.3,
      salt: Long = 0L, accuracy: Int = 10000): DataFrame = {
    val samp = Sampling.deterministicSample(
      scored.select(col(idCol), col(groupCol), col(pplCol)), idCol,
      sampleFraction, salt)
    val thresholds = samp.groupBy(col(groupCol).as("__g"))
      .agg(percentile_approx(col(pplCol),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("__t"))
      .select(col("__g"), col("__t").getItem(0).as("__t1"), col("__t").getItem(1).as("__t2"))
    scored.join(broadcast(thresholds), col(groupCol) <=> col("__g"), "left")
      .withColumn("bucket",
        when(col("__t1").isNull, raise_error(concat(
          lit("perplexityBucketsByGroup: no sampled thresholds for group "),
          coalesce(col(groupCol).cast("string"), lit("NULL")))).cast("string"))
          .when(col(pplCol) <= col("__t1"), lit("head"))
          .when(col(pplCol) <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__g", "__t1", "__t2")
  }
}
