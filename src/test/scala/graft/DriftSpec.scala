package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The drift statistics (χ², KS, PSI and their fixed-point twins): closed
  * forms on a hand-sized table, equality with the Spark-algebra plans they
  * replaced, independence from input partitioning, and the edges. */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  /** The six statistics of `df`, one (group, value, grp_total) list each,
    * sorted by group. */
  private def six(df: DataFrame, v: String, g: String, w: Double): Map[String, Seq[Row]] = {
    def rows(s: DataFrame) = s.collect().toSeq.sortBy(r => String.valueOf(r.get(0)))
    Map(
      "chi2" -> rows(Drift.chiSquare(df, v, g, w)),
      "chi2_fp" -> rows(Drift.chiSquareFixedPoint(df, v, g, w)),
      "ks" -> rows(Drift.ks(df, v, g, w)),
      "ks_fp" -> rows(Drift.ksFixedPoint(df, v, g, w)),
      "psi" -> rows(Drift.psi(df, v, g, w)),
      "psi_fp" -> rows(Drift.psiFixedPoint(df, v, g, w)))
  }

  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  test("hand-computed χ², KS and PSI on 2 groups × 3 bins with one empty cell") {
    // bins of width 10: a = (3, 1, 1), b = (0, 2, 2); N = 9, bin totals (3, 3, 3).
    // Null values and null groups are dropped before binning.
    val df = (Seq(1, 2, 3, 15, 25).map(x => (Option("a"), Option(x))) ++
      Seq(11, 12, 21, 29).map(x => (Option("b"), Option(x))) ++
      Seq((Option("a"), None), (None, Option(1))))
      .toDF("g", "x")
    val s = six(df, "x", "g", 10.0)
    def stat(k: String) = s(k).map(r => r.getString(0) -> r.get(1)).toMap
    assert(s.values.forall(_.map(r => r.getString(0) -> r.getLong(2)) == Seq("a" -> 5L, "b" -> 4L)))
    // χ²: exp_a = 5/3 per bin, exp_b = 4/3 per bin
    val chiA = Seq(16.0 / 15, 4.0 / 15, 4.0 / 15)
    val chiB = Seq(4.0 / 3, 1.0 / 3, 1.0 / 3)
    // PSI: pooled p = 1/3 per bin; b's empty cell is floored at 1e-6
    def psiT(p: Double) = (p - 1.0 / 3) * math.log(p * 3)
    val psiA = Seq(0.6, 0.2, 0.2).map(psiT)
    val psiB = Seq(1e-6, 0.5, 0.5).map(psiT)
    def fp(terms: Seq[Double]) = terms.map(t => math.round(t * 1e6)).sum
    val chi2 = stat("chi2").view.mapValues(_.asInstanceOf[Double]).toMap
    assert(close(chi2("a"), 1.6, 1e-12) && close(chi2("b"), 2.0, 1e-12), chi2)
    assert(stat("chi2_fp") === Map("a" -> fp(chiA), "b" -> fp(chiB)))
    assert(fp(chiA) === 1600001L) // per-term rounding, not round(1.6e6)
    val ks = stat("ks").view.mapValues(_.asInstanceOf[Double]).toMap
    assert(close(ks("a"), 4.0 / 15, 1e-12) && close(ks("b"), 1.0 / 3, 1e-12), ks)
    assert(stat("ks_fp") === Map("a" -> 266667L, "b" -> 333333L))
    val psi = stat("psi").view.mapValues(_.asInstanceOf[Double]).toMap
    assert(close(psi("a"), 4.0 / 15 * math.log(3), 1e-12) && close(psi("b"), psiB.sum, 1e-12), psi)
    assert(stat("psi_fp") === Map("a" -> fp(psiA), "b" -> fp(psiB)))
  }

  // ---------------------------------------------------------------------
  // The Spark-algebra plans the finisher replaced, kept as the reference.
  // ---------------------------------------------------------------------

  private def refCells(df: DataFrame, v: String, g: String, w: Double): DataFrame = {
    val obs = df.filter(col(v).isNotNull && col(g).isNotNull)
      .select(col(g).as("grp"), floor(col(v).cast(DoubleType) / w).cast(LongType).as("bin"))
      .groupBy(col("grp"), col("bin")).agg(count(lit(1)).as("obs"))
    obs.groupBy("grp").agg(sum("obs").as("grp_total"))
      .crossJoin(obs.groupBy("bin").agg(sum("obs").as("bin_total")))
      .join(obs, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(obs.agg(sum("obs").as("n_total")))
  }

  private def refChi2Term(c: DataFrame, float: Boolean): DataFrame = {
    val total = if (float) col("grp_total") else col("grp_total").cast(DoubleType)
    c.withColumn("exp", total * col("bin_total") / col("n_total"))
      .withColumn("term", when(col("exp") > 0,
        (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp")).otherwise(lit(0.0)))
  }

  private def refKsDiff(c: DataFrame): DataFrame = {
    val w = Window.partitionBy("grp").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.withColumn("cum_obs", sum("obs").over(w))
      .withColumn("cum_bin", sum("bin_total").over(w))
      .withColumn("diff", abs(col("cum_obs").cast(DoubleType) / col("grp_total") -
        col("cum_bin").cast(DoubleType) / col("n_total")))
  }

  private def refPsiTerm(c: DataFrame, minP: Double = 1e-6): DataFrame =
    c.withColumn("p_g", greatest(col("obs").cast(DoubleType) / col("grp_total"), lit(minP)))
      .withColumn("p_pool", greatest(col("bin_total").cast(DoubleType) / col("n_total"), lit(minP)))
      .withColumn("term", (col("p_g") - col("p_pool")) * log(col("p_g") / col("p_pool")))

  private def fpOf(c: org.apache.spark.sql.Column) = round(c * 1e6).cast(LongType)

  private def reference(df: DataFrame, v: String, g: String, w: Double): Map[String, Seq[Row]] = {
    val c = refCells(df, v, g, w)
    def per(stats: DataFrame, agg: org.apache.spark.sql.Column) =
      stats.groupBy(col("grp")).agg(agg, first("grp_total").as("grp_total"))
        .collect().toSeq.sortBy(r => String.valueOf(r.get(0)))
    Map(
      "chi2" -> per(refChi2Term(c, float = true), sum("term")),
      "chi2_fp" -> per(refChi2Term(c, float = false), sum(fpOf(col("term")))),
      "ks" -> per(refKsDiff(c), max("diff")),
      "ks_fp" -> per(refKsDiff(c), max(fpOf(col("diff")))),
      "psi" -> per(refPsiTerm(c), sum("term")),
      "psi_fp" -> per(refPsiTerm(c), sum(fpOf(col("term")))))
  }

  /** Groups a–c with null values, null groups, negative values, an integer
    * and a double value column; "c" holds all its mass in one bin. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 3000).map { i =>
      val g = if (i % 97 == 0) None else Some(Seq("a", "b", "c")(i % 3))
      val xi = if (g.contains("c")) 42 else rnd.nextInt(200) - 80 + (if (g.contains("b")) 30 else 0)
      val xd = if (i % 53 == 0) None else Some(rnd.nextGaussian() * 9.0 - 3.0)
      (g, if (i % 41 == 0) None else Some(xi), xd)
    }
    rows.toDF("g", "xi", "xd")
  }

  test("the six statistics equal the Spark-algebra plans they replaced") {
    def check(df: DataFrame, v: String, w: Double): Unit = {
      val got = six(df, v, "g", w)
      val ref = reference(df, v, "g", w)
      for (k <- Seq("chi2_fp", "ks_fp", "psi_fp", "ks"))
        assert(got(k) === ref(k), s"$v/$k")
      for (k <- Seq("chi2", "psi")) {
        assert(got(k).map(r => (r.get(0), r.getLong(2))) === ref(k).map(r => (r.get(0), r.getLong(2))))
        got(k).zip(ref(k)).foreach { case (a, b) =>
          assert(close(a.getDouble(1), b.getDouble(1), 1e-12), s"$v/$k: $a vs $b")
        }
      }
    }
    check(corpus, "xi", 7.0)
    check(corpus, "xd", 2.5)
    // one group: every cell's exp equals obs, so χ² = 0 and so do KS and PSI
    val single = corpus.filter(col("g") === "a")
    check(single, "xi", 7.0)
    val one = six(single, "xi", "g", 7.0)
    assert(one("chi2").map(_.getDouble(1)) === Seq(0.0) && one("chi2_fp").map(_.getLong(1)) === Seq(0L))
    // the one-bin group is the most shifted one
    assert(six(corpus, "xi", "g", 7.0)("chi2").maxBy(_.getDouble(1)).getString(0) === "c")
  }

  test("all six statistics are bit-identical under any input partitioning") {
    val rows = corpus.collect().toSeq
    val shuffled = spark.createDataFrame(
      spark.sparkContext.parallelize(new scala.util.Random(3).shuffle(rows), 5), corpus.schema)
    for ((v, w) <- Seq("xi" -> 7.0, "xd" -> 2.5)) {
      val one = six(corpus.coalesce(1), v, "g", w)
      assert(six(shuffled.repartition(7), v, "g", w) === one, v)
    }
  }

  test("edges: empty input gives no rows; too many cells fail naming binWidth") {
    val empty = corpus.filter(lit(false))
    assert(six(empty, "xi", "g", 7.0).values.forall(_.isEmpty))
    // 1,100 groups × 1,100 bins > MaxCells, from 1,100 rows
    val wide = spark.range(1100).select(col("id").cast(StringType).as("g"), col("id").as("x"))
    val e = intercept[Exception](Drift.chiSquare(wide, "x", "g", 1.0).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("binWidth") && m.contains("1210000 cells")), e)
    intercept[IllegalArgumentException](Drift.psi(corpus, "xi", "g", 7.0, minP = 0.0))
  }
}
