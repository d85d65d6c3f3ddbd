package graft

import java.util.Arrays.binarySearch
import java.util.Objects.deepEquals

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, Encoders, GraftShim, Row}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Distribution-drift statistics.
  *
  * Strategy (scale-first): one scan bins the numeric column and counts each
  * (group, bin) cell, with map-side partial aggregation on a key of modest
  * cardinality — the only heavy op at 100 TB. A global aggregate gathers
  * those ≤ |groups|×|bins| cells into one row sorted by (group, bin), and one
  * finisher ([[Drift.finish]]) computes χ², KS and PSI and their fixed-point
  * twins from it in a single walk. The plan stays lazy (nothing runs until
  * the caller's action), and every float sum runs in ascending bin order, so
  * the statistics do not depend on the input's partitioning.
  *
  * The reference has no drift analog (it is a per-value validator); this is
  * the north-rule addition (SURVEY.md §2.4 "drift / stats").
  */
object Drift {

  /** Most groups × bins the finisher accepts: above it the statistic fails
    * and names `binWidth` — never a silent cap. */
  val MaxCells: Long = 1L << 20

  /** All six per-group statistics in one lazy plan: (grp, chi2, chi2_fp, ks,
    * ks_fp, psi, psi_fp, grp_total). */
  private def statistics(df: DataFrame, valueCol: String, groupCol: String,
      binWidth: Double, minP: Double, scale: Double): DataFrame = {
    require(minP > 0, s"drift: minP must be > 0, got $minP")
    val ansi = SQLConf.get.ansiEnabled
    val out = new StructType().add("grp", df.select(col(groupCol)).schema.head.dataType)
      .add("chi2", DoubleType).add("chi2_fp", LongType).add("ks", DoubleType).add("ks_fp", LongType)
      .add("psi", DoubleType).add("psi_fp", LongType).add("grp_total", LongType)
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        floor(col(valueCol).cast(DoubleType) / binWidth).cast(LongType).as("bin"))
      .agg(count(lit(1)).as("obs"))
      .agg(sort_array(collect_list(struct(col("grp"), col("bin"), col("obs")))))
      .flatMap(r => finish(r.getSeq[Row](0), binWidth, minP, scale, ansi))(Encoders.row(out))
  }

  /** The finisher: per-group statistics from the (grp, bin, obs) cells
    * sorted by (grp, bin). Each group is walked over the union of occupied
    * bins in ascending order, a missing cell counting obs = 0, with
    * exp = grp_total·bin_total/N. Every cell yields one χ² term, one
    * |CDF_g − CDF_pool| and one PSI term; the float statistic sums (KS:
    * maxes) the term as is, the `_fp` twin first applies Spark's
    * `round(term · scale).cast(long)` — HALF_UP on the double's decimal
    * form, and under ANSI an overflowing cast or sum raises as in Spark. */
  private def finish(cells: Seq[Row], binWidth: Double, minP: Double,
      scale: Double, ansi: Boolean): Iterator[Row] = {
    val bins = cells.map(_.getLong(1)).distinct.sorted.toArray
    val starts = cells.indices.filter(i => i == 0 || !deepEquals(cells(i - 1).get(0), cells(i).get(0)))
    val nCells = starts.length.toLong * bins.length
    if (nCells > MaxCells) throw new IllegalArgumentException(s"drift: ${starts.length} groups × " +
      s"${bins.length} bins = $nCells cells exceed the $MaxCells-cell limit; raise binWidth ($binWidth)")
    val binTotal = new Array[Long](bins.length)
    cells.foreach(c => binTotal(binarySearch(bins, c.getLong(1))) += c.getLong(2))
    val n = binTotal.sum
    def fp(term: Double): Long = {
      val x = term * scale
      val r = if (x.isNaN || x.isInfinite) x else BigDecimal(x).setScale(0, RoundingMode.HALF_UP).toDouble
      if (ansi) GraftShim.doubleToLongExact(r) else r.toLong
    }
    def add(a: Long, b: Long): Long = if (ansi) MathUtils.addExact(a, b) else a + b
    starts.indices.iterator.map { k =>
      val obs = new Array[Long](bins.length)
      (starts(k) until (if (k + 1 < starts.length) starts(k + 1) else cells.length)).foreach { i =>
        obs(binarySearch(bins, cells(i).getLong(1))) = cells(i).getLong(2)
      }
      val g = obs.sum
      var chi2, psi = 0.0
      var ks = Double.NegativeInfinity
      var chi2Fp, psiFp, cumObs, cumBin = 0L
      var ksFp = Long.MinValue
      for (b <- bins.indices) {
        val o = obs(b)
        val bt = binTotal(b)
        val exp = g.toDouble * bt / n
        val chiT = if (exp > 0) (o - exp) * (o - exp) / exp else 0.0
        cumObs += o
        cumBin += bt
        val ksT = math.abs(cumObs.toDouble / g - cumBin.toDouble / n)
        val pG = math.max(o.toDouble / g, minP)
        val pPool = math.max(bt.toDouble / n, minP)
        val psiT = (pG - pPool) * StrictMath.log(pG / pPool)
        chi2 += chiT; chi2Fp = add(chi2Fp, fp(chiT))
        ks = math.max(ks, ksT); ksFp = math.max(ksFp, fp(ksT))
        psi += psiT; psiFp = add(psiFp, fp(psiT))
      }
      Row(cells(starts(k)).get(0), chi2, chi2Fp, ks, ksFp, psi, psiFp, g)
    }
  }

  private def pick(stats: DataFrame, groupCol: String, stat: String): DataFrame =
    stats.select(col("grp").as(groupCol), col(stat), col("grp_total"))

  /** χ² of each group's binned histogram against the pooled distribution:
    * chi2(g) = Σ_bins (obs - exp)² / exp with exp = grp_total·bin_total/N.
    * Returns (groupCol, chi2, grp_total). */
  def chiSquare(df: DataFrame, valueCol: String, groupCol: String, binWidth: Double): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, 1e-6, 1e6), groupCol, "chi2")

  /** Two-sample KS on binned CDFs: ks(g) = max_bins |CDF_g(bin) - CDF_pool(bin)|.
    * Returns (groupCol, ks, grp_total). */
  def ks(df: DataFrame, valueCol: String, groupCol: String, binWidth: Double): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, 1e-6, 1e6), groupCol, "ks")

  /** χ² in FIXED POINT: each cell's term is rounded to `scale` decimals and
    * summed as integers, so the statistic is bit-identical across engines
    * whatever their summation order. Returns (groupCol, chi2_fp: Long =
    * Σ round(term·scale), grp_total). */
  def chiSquareFixedPoint(df: DataFrame, valueCol: String, groupCol: String,
      binWidth: Double, scale: Double = 1e6): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, 1e-6, scale), groupCol, "chi2_fp")

  /** KS in FIXED POINT: per-cell |CDF_g − CDF_pool| is rounded, then maxed —
    * round is monotone, so max(round(x)) == round(max(x)) and the result is
    * oracle-exact. Returns (groupCol, ks_fp: Long, grp_total). */
  def ksFixedPoint(df: DataFrame, valueCol: String, groupCol: String,
      binWidth: Double, scale: Double = 1e6): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, 1e-6, scale), groupCol, "ks_fp")

  /** Population Stability Index per group vs the pooled distribution:
    * psi(g) = Σ_bins (p_g − p_pool)·ln(p_g / p_pool), probabilities floored
    * at `minP` (> 0: standard smoothing so empty cells contribute finitely).
    * Common thresholds: <0.1 stable, 0.1–0.25 moderate, >0.25 shifted. */
  def psi(df: DataFrame, valueCol: String, groupCol: String, binWidth: Double,
      minP: Double = 1e-6): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, minP, 1e6), groupCol, "psi")

  /** PSI in FIXED POINT (per-term rounding, integer sum — order-independent
    * like [[chiSquareFixedPoint]]). ln is `StrictMath.log`, as in Spark's
    * `log`; it must agree bitwise with the oracle engine's, which holds on
    * the fixture data (both ship correctly-rounded-in-practice libm). */
  def psiFixedPoint(df: DataFrame, valueCol: String, groupCol: String, binWidth: Double,
      minP: Double = 1e-6, scale: Double = 1e6): DataFrame =
    pick(statistics(df, valueCol, groupCol, binWidth, minP, scale), groupCol, "psi_fp")

  /** Exact per-(group, bin) histogram — the oracle-friendly building block
    * (integer counts only, no floating point). */
  def histogram(df: DataFrame, valueCol: String, groupCol: String, binWidth: Double): DataFrame =
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol),
        floor(col(valueCol).cast(DoubleType) / binWidth).cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Per-group approximate quantiles via `approx_percentile` — the sketch
    * path for interactive drift inspection at scale (not oracle-compared:
    * approximate by design). */
  def quantiles(df: DataFrame, valueCol: String, groupCol: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame =
    df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol).cast(DoubleType),
        array(probs.map(lit): _*), lit(10000)).as("quantiles"))

  /** Reference-vs-current EXACT quantile comparison — the drift check that
    * catches a shifted distribution whose mean and histogram-χ² still look
    * plausible (e.g. every document doubled in length: same shape, same
    * bins occupied, median ×2). One row per (col_name, q_pct):
    * (ref_c, cur_c, shift_c = cur−ref, breach) with every value in the
    * integer-exact quantile domain of [[Profiler.profileQuantiles]] (cents /
    * epoch micros) — no float arithmetic anywhere, so the frame is
    * oracle-exact.
    *
    * `breach` (LONG 0/1, defined on every edge): 1 when |shift_c| >
    * maxShiftC; a quantile present on exactly one side (a column gone
    * all-null) is ALWAYS a breach; absent on both sides is not.
    *
    * Scale: two single-pass exact-percentile aggregations (memory note on
    * [[Profiler.profileQuantiles]]) joined on a few-row frame — the join is
    * trivially broadcast. */
  def quantileShift(ref: DataFrame, cur: DataFrame, columns: Seq[String],
      qPcts: Seq[Int] = Seq(25, 50, 75, 95), maxShiftC: Long = 0L): DataFrame = {
    require(maxShiftC >= 0, s"quantileShift: maxShiftC must be >= 0, got $maxShiftC")
    val r = Profiler.profileQuantiles(ref, columns, qPcts)
      .select(col("col_name"), col("q_pct"), col("value_c").as("ref_c"))
    val c = Profiler.profileQuantiles(cur, columns, qPcts)
      .select(col("col_name"), col("q_pct"), col("value_c").as("cur_c"))
    r.join(c, Seq("col_name", "q_pct"))
      .withColumn("shift_c", col("cur_c") - col("ref_c"))
      .withColumn("breach", when(col("ref_c").isNull && col("cur_c").isNull, 0L)
        .when(col("ref_c").isNull || col("cur_c").isNull, 1L)
        .otherwise((abs(col("shift_c")) > maxShiftC).cast(LongType)))
  }

  /** Per-group OUT-OF-VOCABULARY rate over a token-array column: rows,
    * total tokens, tokens outside [0, vocabSize), and `oov_rate_fp` — the
    * rate ×10^6 as a floor-divided LONG (the division runs in DECIMAL(38,0)
    * so `n_oov·10^6` cannot overflow a LONG at 10^15-token scale; EXACT, so
    * the frame is hash-comparable across engines). A tokenizer/vocab
    * mismatch upstream shows up here as one source's rate jumping while the
    * table-wide scalar checks still pass.
    *
    * Scale shape: the per-row OOV count is ONE codegen'd array pass
    * ([[graft.functions.ArrayCountOutOfRange]] — no explode: the exploded
    * form shuffles every token, this shuffles three LONGs per group), then
    * a partial-agg'd groupBy on the group key. Null arrays count as a row
    * with zero tokens (assert presence separately with NonNull); null
    * ELEMENTS count as OOV. */
  def oovProfile(df: DataFrame, tokensCol: String, groupCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"oovProfile: vocabSize must be >= 1, got $vocabSize")
    require(df.schema(tokensCol).dataType.isInstanceOf[ArrayType],
      s"oovProfile: column '$tokensCol' is ${df.schema(tokensCol).dataType.typeName}, need array")
    val t = col(tokensCol)
    val nTok = when(t.isNull, 0L).otherwise(size(t).cast(LongType))
    val nOov = when(t.isNull, 0L).otherwise(
      graft.functions.VecFunctions.array_count_out_of_range(t, 0, vocabSize - 1))
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(nTok).as("n_tokens"),
        sum(nOov).as("n_oov"))
      .withColumn("oov_rate_fp",
        when(col("n_tokens") > 0, Constraints.intDivFp(col("n_oov"), col("n_tokens"))))
  }

  /** Ref-vs-current OOV-rate comparison per group: breach when the rate
    * moved more than `maxDeltaFp` (×10^6 fixed point) in either direction,
    * or when a group exists on only one side (appearance/disappearance
    * always breaches — same convention as [[quantileShift]]). Pure LONG
    * arithmetic on two tiny profile frames. */
  def oovShift(refProf: DataFrame, curProf: DataFrame, groupCol: String,
      maxDeltaFp: Long): DataFrame = {
    require(maxDeltaFp >= 0, s"oovShift: maxDeltaFp must be >= 0, got $maxDeltaFp")
    val r = refProf.select(col(groupCol),
      col("oov_rate_fp").as("ref_rate_fp"), lit(true).as("__in_ref"))
    val c = curProf.select(col(groupCol),
      col("oov_rate_fp").as("cur_rate_fp"), lit(true).as("__in_cur"))
    r.join(c, Seq(groupCol), "full_outer")
      .withColumn("delta_fp",
        when(col("ref_rate_fp").isNotNull && col("cur_rate_fp").isNotNull,
          col("cur_rate_fp") - col("ref_rate_fp")))
      .withColumn("breach",
        // group appeared/disappeared -> breach; tokenless on BOTH sides ->
        // unchanged; tokens appeared/disappeared within a group -> breach
        when(col("__in_ref").isNull || col("__in_cur").isNull, 1L)
          .when(col("ref_rate_fp").isNull && col("cur_rate_fp").isNull, 0L)
          .when(col("ref_rate_fp").isNull || col("cur_rate_fp").isNull, 1L)
          .otherwise((abs(col("delta_fp")) > maxDeltaFp).cast(LongType)))
      .drop("__in_ref", "__in_cur")
  }

  /** Per-group token-UNIGRAM profile: a bounded Misra-Gries summary over
    * every token id in the group ([[graft.functions.TokenFreqSketch]] — no
    * `explode`, each map task ships a `capacity`-counter summary) plus the
    * group's exact token total. `sketch.err == 0` certifies the counts are
    * exact (always when distinct tokens ≤ capacity); real vocabularies get
    * heavy-hitter guarantees bounded by err. Output: (group, n_rows,
    * n_tokens, sketch{items:[{token,cnt}...], err}). */
  def tokenUnigramProfile(df: DataFrame, tokensCol: String, groupCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, s"tokenUnigramProfile: capacity must be > 0, got $capacity")
    require(df.schema(tokensCol).dataType.isInstanceOf[ArrayType],
      s"tokenUnigramProfile: column '$tokensCol' is ${df.schema(tokensCol).dataType.typeName}, need array")
    val t = col(tokensCol)
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(t.isNull, 0L).otherwise(size(t).cast(LongType))).as("n_tokens"),
        graft.functions.TokenFreqSketch.token_freq_sketch(t, capacity).as("sketch"))
  }

  /** Ref-vs-current token-unigram RATE drift per group: for each of the
    * reference profile's top-`topK` tokens (cnt desc, token asc — the
    * sketch's own order), compare its ×10^6 fixed-point rate against the
    * current profile (absent ⇒ rate 0); breach when any top token's rate
    * moved more than `maxDeltaFp`, or a group exists on only one side.
    * Catches tokenizer swaps and content shifts that leave n_tok
    * distributions untouched (χ²/KS on lengths are blind to WHICH tokens).
    * DIRECTIONAL by design — ref's heavy hitters are the watchlist; run
    * with the sides swapped to also catch newly-appearing heavy tokens.
    * Exact when both sketches have err == 0; otherwise deltas inherit the
    * summaries' ±err bounds (carried through as ref_err/cur_err). Pure
    * LONG arithmetic over two capacity-bounded profile frames. */
  def tokenUnigramShift(refProf: DataFrame, curProf: DataFrame, groupCol: String,
      topK: Int, maxDeltaFp: Long): DataFrame = {
    require(topK > 0, s"tokenUnigramShift: topK must be > 0, got $topK")
    require(maxDeltaFp >= 0, s"tokenUnigramShift: maxDeltaFp must be >= 0, got $maxDeltaFp")
    def rateFp(cnt: org.apache.spark.sql.Column, total: org.apache.spark.sql.Column) =
      when(total > 0, Constraints.intDivFp(cnt, total)).otherwise(lit(0L))
    // ref watchlist: top-K rows of each group's (already-sorted) item array
    val refTop = refProf.select(col(groupCol), col("n_tokens").as("__ref_total"),
        posexplode(col("sketch.items")).as(Seq("__pos", "__it")))
      .filter(col("__pos") < topK)
      .select(col(groupCol),
        col("__it.token").as("token"),
        rateFp(col("__it.cnt"), col("__ref_total")).as("ref_rate_fp"))
    val curAll = curProf.select(col(groupCol), col("n_tokens").as("__cur_total"),
        explode(col("sketch.items")).as("__it"))
      .select(col(groupCol),
        col("__it.token").as("token"),
        rateFp(col("__it.cnt"), col("__cur_total")).as("cur_rate_fp"))
    val joined = refTop.join(curAll, Seq(groupCol, "token"), "left")
      .withColumn("cur_rate_fp", coalesce(col("cur_rate_fp"), lit(0L)))
      .withColumn("delta_fp", col("cur_rate_fp") - col("ref_rate_fp"))
    val perGroup = joined.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_top"),
      sum((abs(col("delta_fp")) > maxDeltaFp).cast(LongType)).as("n_breach"),
      max(abs(col("delta_fp"))).as("max_abs_delta_fp"))
    // group present on only one side always breaches (oovShift convention).
    // The err columns come from the GROUP-level profiles, never from the
    // item-match rows: a current sketch that evicted every watchlist token
    // still reports its true err, so a consumer trusting err == 0 can never
    // mistake an MG eviction artifact for a confirmed breach.
    val refG = refProf.select(col(groupCol), lit(true).as("__in_ref"),
      col("sketch.err").as("ref_err"))
    val curG = curProf.select(col(groupCol), lit(true).as("__in_cur"),
      col("sketch.err").as("cur_err"))
    refG.join(curG, Seq(groupCol), "full_outer")
      .join(perGroup, Seq(groupCol), "left")
      .withColumn("breach",
        when(col("__in_ref").isNull || col("__in_cur").isNull, 1L)
          .otherwise((coalesce(col("n_breach"), lit(0L)) > 0).cast(LongType)))
      .drop("__in_ref", "__in_cur")
  }
}
