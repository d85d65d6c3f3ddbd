package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FastText-style document quality classifier — the "wiki-like vs random
  * crawl" filter of CCNet/DataComp pipelines — as a Naive-Bayes log-odds
  * scorer over unigram counts. Training is closed-form (two bounded count
  * aggregations, one per class — no gradient loop, fully deterministic),
  * and scoring COMPOSES the existing zero-shuffle LM kernel: the
  * per-document score is
  *
  *   score_fp = Σ_t round(ln(c_pos(t)/N_pos)·1e6) − round(ln(c_neg(t)/N_neg)·1e6)
  *
  * i.e. the difference of two order-1 [[graft.functions.NgramLogProbFp]]
  * sums — the per-term fixed-point log-likelihood-ratio of the two class
  * models.
  * Out-of-vocabulary terms score count 1 under BOTH classes, so OOV mass
  * mostly cancels (it contributes the class-size prior ln(N_neg/N_pos) per
  * token). Positive scores mean "looks like the positive class".
  *
  * Scale shape: training = 2 × (explode → two-phase hash agg → TakeOrdered
  * V); scoring = one zero-shuffle projection with both vocabularies riding
  * inside the expressions — at 100 TB the filter runs at scan speed like
  * every other quality gate. All arithmetic is fixed-point and mirrors
  * exactly in a SQL oracle (the t_unigram_lp oracle, twice).
  *
  * Reference pipelines train fastText supervised on labeled seeds
  * (Wikipedia vs random Common Crawl); this is the same shape with a
  * closed-form NB model in place of the learned embedding — swap in real
  * labels via `labelCol`.
  */
object QualityClassifier {

  /** Two class-conditional unigram models sharing the fixed-point scoring
    * convention. */
  final case class Model(pos: UnigramLM.Model, neg: UnigramLM.Model)

  /** Train from a labeled frame: rows where `labelCol` is true are the
    * positive class (e.g. curated/wiki-like seeds), false the negative
    * (e.g. random crawl). Each side trains a bounded top-V unigram model —
    * deterministic (count desc, term asc) ties. `trainFraction` routes
    * through the deterministic sampler like the LM trainers. */
  def train(df: DataFrame, textCol: String, labelCol: String, vocabSize: Int,
      trainFraction: Double = 1.0, idCol: String = ""): Model = {
    val base = UnigramLM.trainingSlice(df, trainFraction, idCol)
    val pos = UnigramLM.train(base.filter(col(labelCol) === true), textCol, vocabSize)
    val neg = UnigramLM.train(base.filter(col(labelCol) === false), textCol, vocabSize)
    Model(pos, neg)
  }

  /** Attach `score_fp` (fixed-point log-odds sum, positive = positive
    * class) and `n_tok`. Documents with no tokens score (0, 0). */
  def score(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val toks = UnigramLM.tokens(col(textCol))
    val sp = model.pos.logProbFp(toks)
    val sn = model.neg.logProbFp(toks)
    df.withColumn("score_fp", sp("logprob_fp") - sn("logprob_fp"))
      .withColumn("n_tok", sp("n_tok"))
  }

  /** Keep rows whose AVERAGE per-token log-odds is at least `minAvgFp`
    * (fixed-point; 0 = "at least as positive-like as negative-like"), in
    * multiply-form. Tokenless rows drop. */
  def gate(df: DataFrame, textCol: String, model: Model, minAvgFp: Long): DataFrame =
    score(df, textCol, model)
      .filter(col("n_tok") > 0 && col("score_fp") >= lit(minAvgFp) * col("n_tok"))
      .drop("score_fp", "n_tok")
}
