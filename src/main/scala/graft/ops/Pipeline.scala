package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pipeline composition utilities — the "no silent caps" principle as an
  * operator: a filtering pipeline must be able to say exactly how many rows
  * each stage cost, or a mis-tuned gate silently eats the corpus.
  */
object Pipeline {

  /** Ordered, NAMED keep-gates with per-stage drop attribution. Every
    * dropped row is charged to the FIRST stage that rejected it (pipeline
    * semantics — later gates never see it), and every stage appears in the
    * audit even when it dropped nothing. A NULL gate value is a rejection
    * (unknown must not mean keep).
    *
    * Returns (survivors, audit): survivors = rows passing ALL gates; audit =
    * one row per stage plus a final "kept" row, as (stage, ord, n_rows).
    * Scale shape: the audit is ONE narrow scan (all gates evaluated in a
    * single projection, then a tiny groupBy over |stages|+1 keys) and the
    * survivor frame is one filter over the same scan — no joins, no wide
    * shuffles, each frame independently consumable.
    *
    * Both frames are lazy: every action on either one re-reads `df` and
    * re-evaluates every gate. Persist the survivors when several actions
    * consume them. A gate written as Column algebra over several fields of
    * one kernel's struct (`k(x)("a") > 0 && k(x)("b") < 9`) re-runs that
    * kernel once per field reference inside the survivors' `Filter`, which
    * shares no subexpressions; give such a gate one expression over the
    * struct, as [[TextAnalysis.gopherPass]] does. */
  def filterWithAudit(df: DataFrame, stages: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    require(stages.nonEmpty, "at least one stage")
    val names = stages.map(_._1)
    require(names.distinct.size == names.size, "stage names must be unique")
    require(!names.contains("kept"), "'kept' is the reserved survivor label")
    val keepAll = stages.map { case (_, c) => coalesce(c, lit(false)) }.reduce(_ && _)
    // first-failing-stage attribution: fold in reverse so stage 1 tests first
    val attributed = stages.reverse.foldLeft(lit("kept"): Column) {
      case (acc, (name, c)) => when(!coalesce(c, lit(false)), lit(name)).otherwise(acc)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val order = (names :+ "kept").zipWithIndex.toDF("stage", "ord")
      .select(col("stage"), col("ord").cast("int").as("ord"))
    val counts = df.select(attributed.as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_rows"))
    val audit = order.join(counts, Seq("stage"), "left")
      .select(col("stage"), col("ord"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    (df.filter(keepAll), audit)
  }

  /** The composed CCNet selection (Wenzek et al. 2020): score with the
    * reference order-N LM, split into per-language perplexity tertiles,
    * keep the chosen buckets. Returns (survivors, per-(lang, bucket)
    * counts) — the counts frame is the no-silent-caps audit: every
    * language's bucket population is visible whether or not it was kept.
    * Tokenless rows are DROPPED (they have no perplexity; CCNet has
    * nothing to say about them — gate them upstream with length checks).
    *
    * `exact = true` uses the order-statistic thresholds (driver collects
    * the SAMPLE, `maxSample`-guarded) and scores each document exactly
    * once: the scored rows (text included, tokenless rows too; they are
    * dropped above the cache) are persisted MEMORY_AND_DISK, the
    * threshold sample materializes that cache, and the counts — at most
    * |languages| × 3 rows — are computed from it AT CALL TIME and returned
    * as a local frame, so a language missing from the sample fails here.
    * The survivors frame reads the same cache and releases it after its
    * first action; consume the survivors once (or persist them) — a
    * second action re-scores. The default sketch path returns two lazy
    * frames that each score on evaluation. */
  def ccnetSelect(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, model: UnigramLM.NgramModel,
      keep: Set[String] = Set("head", "middle"),
      sampleFraction: Double = 0.3, salt: Long = 0L,
      exact: Boolean = false): (DataFrame, DataFrame) = {
    require(keep.nonEmpty && keep.subsetOf(Set("head", "middle", "tail")),
      s"keep must be a nonempty subset of head/middle/tail: $keep")
    def withPpl(scored: DataFrame): DataFrame = scored
      .filter(col("n_tok") > 0)
      .withColumn("ppl_fp",
        UnigramLM.perplexityFp(col("logprob_fp"), col("n_tok")))
    def split(bucketed: DataFrame): (DataFrame, DataFrame) =
      (bucketed.filter(col("bucket").isin(keep.toSeq: _*)),
        bucketed.groupBy(col(langCol), col("bucket")).agg(count(lit(1)).as("n_rows")))
    val scored = UnigramLM.scoreNgram(docs, textCol, model)
    if (!exact) split(UnigramLM.perplexityBucketsByGroup(
      withPpl(scored), idCol, "ppl_fp", langCol, sampleFraction, salt))
    else {
      // Cache the scoring projection itself and filter above it: a filter
      // on `n_tok` beneath the cache would be pushed under the projection
      // and score every row a second time. `ppl_fp` stays above the
      // filter (its integer division by a zero `n_tok` fails under ANSI).
      val scoredCache = scored.persist()
      val release = () => { scoredCache.unpersist(); () }
      try {
        val cached = withPpl(scoredCache)
        val (survivors, counts) = split(cached.withColumn("bucket",
          UnigramLM.groupTertiles(cached, idCol, "ppl_fp", langCol,
            sampleFraction, salt, maxSample = 2000000, maxGroups = 10000)))
        val localCounts = docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(counts.collect(): _*), counts.schema)
        (graft.AutoRelease.onFirstMaterialize(survivors, release), localCounts)
      } catch { case e: Throwable => release(); throw e }
    }
  }
}
