package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.functions.{NgramLogProbFp, RepetitionStats}
import graft.ops.{Pipeline, TextAnalysis, UnigramLM}

/** Each gate kernel runs once per document. `FilterExec` does no
  * subexpression elimination, so a gate that references one kernel's struct
  * several times inside a filter runs the kernel once per reference; these
  * specs count kernel nodes in executed plans (expression trees, not plan
  * strings) and pin the single-expression gate to the Column form it
  * replaced. */
class GateOnceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def parquet(rows: Seq[(Long, String, String)]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-gateonce").resolve("docs").toString
    rows.toDF("doc_id", "lang", "text").repartition(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Kernel nodes of type `K` in some expression trees. */
  private def kernels[K <: Expression](es: Seq[Expression])(implicit k: ClassTag[K]): Seq[Expression] =
    es.flatMap(_.collect { case x if k.runtimeClass.isInstance(x) => x })

  /** Per FilterExec condition and ProjectExec list of an executed plan
    * (adaptive plans included), the `K` nodes it holds. */
  private def perOperator[K <: Expression: ClassTag](plan: SparkPlan): Seq[(String, Seq[Expression])] =
    collect(plan) {
      case f: FilterExec => Seq("Filter" -> kernels[K](Seq(f.condition)))
      case p: ProjectExec => Seq("Project" -> kernels[K](p.projectList))
    }.flatten

  private def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }

  /** The `quality` workload's three gates. */
  private def gates: Seq[(String, Column)] = {
    val t = col("text")
    Seq(
      "quality" -> TextAnalysis.qualityPass(t),
      "gopher_repetition" -> TextAnalysis.gopherPass(TextAnalysis.repetitionStats(t)),
      "gopher_quality" -> TextAnalysis.gopherQualityPass(t))
  }

  private val fluent = Seq("the quick brown fox jumps over the lazy dog",
    "a stitch in time saves nine and then some more", "pack my box with five dozen jugs")

  private def docs(n: Int): Seq[(Long, String, String)] = (1 to n).map { i =>
    val text = if (i % 50 == 0) "!!! ???" else s"${fluent(i % 3)} w${i % 17} w${i % 5}"
    (i.toLong, if (i % 2 == 0) "en" else "de", text)
  }

  test("filterWithAudit: each gated Filter and Project holds one RepetitionStats node") {
    val (surv, audit) = Pipeline.filterWithAudit(parquet(docs(60)), gates)
    Seq("survivors" -> surv, "audit" -> audit).foreach { case (name, df) =>
      val ops = perOperator[RepetitionStats](executed(df)).filter(_._2.nonEmpty)
      assert(ops.nonEmpty, s"$name: no operator evaluates the gates")
      ops.foreach { case (op, ks) =>
        assert(ks.size === 1, s"$name: $op holds ${ks.size} RepetitionStats nodes")
      }
    }
    assert(perOperator[RepetitionStats](executed(surv)).exists {
      case (op, ks) => op == "Filter" && ks.size == 1
    })
  }

  test("ccnetSelect(exact): the cached scoring plan holds one NgramLogProbFp") {
    val in = parquet(docs(120))
    val model = UnigramLM.trainNgram(in, "text", Seq(40, 40))
    val (surv, _) = Pipeline.ccnetSelect(in, "text", "doc_id", "lang", model,
      sampleFraction = 0.5, exact = true)
    val cachedPlans = surv.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cachedPlan
    }
    assert(cachedPlans.size === 1)
    // No filter scores (a `n_tok > 0` pushed beneath the cache would), and
    // the projection extracts `logprob_fp` and `n_tok` from one kernel,
    // whose equal copies subexpression elimination evaluates once.
    val ops = perOperator[NgramLogProbFp](cachedPlans.head).filter(_._2.nonEmpty)
    assert(ops.map(_._1) === Seq("Project"))
    assert(ops.head._2.map(_.canonicalized).distinct.size === 1)
    // the tokenless documents are still dropped, above the cache
    assert(surv.filter(col("n_tok") === 0).count() === 0)
  }

  /** `gopherPass` as the Column algebra over the struct's fields it replaced. */
  private def gopherPassColumns(s: Column): Column =
    (s("n_words") > 0) &&
      (s("dup_lines") * 10 <= s("n_lines") * 3) &&
      (s("dup_line_chars") * 5 <= s("line_chars")) &&
      (s("top2_chars") * 5 <= s("word_chars")) &&
      (s("top3_chars") * 100 <= s("word_chars") * 18) &&
      (s("top4_chars") * 100 <= s("word_chars") * 16) &&
      (s("dup5_cov_chars") * 100 <= s("word_chars") * 15) &&
      (s("dup10_cov_chars") * 10 <= s("word_chars"))

  private def withFactoryMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  /** Per `doc_id` of `in`, (kernel, Column form) verdicts of the gate over
    * `st`, and the ids each form keeps as a filter, under one factory mode. */
  private def verdicts(mode: String, in: DataFrame, st: Column)
      : (Seq[(Long, Option[Boolean], Option[Boolean])], Seq[Long], Seq[Long]) =
    withFactoryMode(mode) {
      val both = in.select(col("doc_id"), TextAnalysis.gopherPass(st).as("k"),
          gopherPassColumns(st).as("c")).collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Boolean]),
          Option(r.get(2)).map(_.asInstanceOf[Boolean])))
        .toSeq.sortBy(_._1)
      def kept(gate: Column) =
        in.filter(gate).select("doc_id").as[Long].collect().toSeq.sorted
      (both, kept(TextAnalysis.gopherPass(st)), kept(gopherPassColumns(st)))
    }

  private def assertSameGate(in: DataFrame, st: Column): Set[Option[Boolean]] = {
    val interpreted = verdicts("NO_CODEGEN", in, st)
    val compiled = verdicts("CODEGEN_ONLY", in, st)
    Seq(interpreted, compiled).foreach { case (both, keptK, keptC) =>
      both.foreach { case (id, k, c) => assert(k === c, s"doc $id") }
      assert(keptK === keptC)
    }
    assert(interpreted === compiled)
    interpreted._1.map(_._2).toSet
  }

  test("gopherPass equals the Column-algebra gate on text, interpreted and codegen'd") {
    val prose = (1 to 40).map(i => s"word$i").mkString(" ")
    val five = "alpha beta gamma delta epsilon"
    val ten = "one two three four five six seven eight nine ten"
    val texts: Seq[String] = Seq(
      null, "", "   \n\t  \n", "word",
      "a line that repeats\na line that repeats\n" + prose,
      s"$prose\n$prose\n$prose\nsomething else entirely",
      s"$five ${(1 to 30).map(i => s"x$i").mkString(" ")} $five",
      s"$ten ${(1 to 80).map(i => s"y$i").mkString(" ")} $ten",
      s"$ten ${(1 to 200).map(i => s"z$i").mkString(" ")} $ten",
      prose,
      (1 to 9000).map(i => s"tok${i % 4000}").mkString(" ", " ", "\n") * 2, // > 64 KB
      (1 to 12000).map(i => s"u$i").mkString(" "), // > 64 KB, no repetition
      "𝒜 b 𝒜 b 𝒜 b " + prose,
      "😀 smile 😀\n😀 smile 😀\n" + prose)
    assert(texts.exists(t => t != null && t.length > 65536))
    val in = parquet(texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) })
    // the inputs exercise null, pass and fail
    assert(assertSameGate(in, TextAnalysis.repetitionStats(col("text"))) ===
      Set(None, Some(true), Some(false)))
  }

  test("gopherPass equals the Column-algebra gate at each threshold's boundary") {
    // every ratio comfortably inside its bound, then each one in turn at its
    // bound (passes) and one unit past it (fails)
    val base = Map("n_lines" -> 10L, "line_chars" -> 1000L, "n_words" -> 100L,
      "word_chars" -> 1000L).withDefaultValue(0L)
    val edges = Seq("n_words" -> 1L, "dup_lines" -> 3L, "dup_line_chars" -> 200L,
      "top2_chars" -> 200L, "top3_chars" -> 180L, "top4_chars" -> 160L,
      "dup5_cov_chars" -> 150L, "dup10_cov_chars" -> 100L)
    val cases = base +: edges.flatMap { case (f, v) =>
      val fail = if (f == "n_words") 0L else v + 1
      Seq(base + (f -> v), base + (f -> fail))
    }
    val rows = cases.zipWithIndex.map { case (m, i) =>
      org.apache.spark.sql.Row.fromSeq(i.toLong +: RepetitionStats.fieldNames.map(m))
    }
    val schema = RepetitionStats.schema.add("doc_id", "long", nullable = false)
    val fields = RepetitionStats.fieldNames.map(col)
    val dir = java.nio.file.Files.createTempDirectory("graft-gateonce").resolve("stats").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(schema.last +: schema.init))
      .repartition(2).write.parquet(dir)
    val in = spark.read.parquet(dir)
    val (both, _, _) = verdicts("NO_CODEGEN", in, struct(fields: _*))
    assert(both.map(_._2) === Some(true) +: edges.flatMap(_ => Seq(Some(true), Some(false))))
    assertSameGate(in, struct(fields: _*))
  }

  test("gopherPass raises on a product overflow under ANSI, like the Column form") {
    assume(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // every conjunct before top3's holds, so its product is evaluated;
    // built on `id` so constant folding cannot evaluate it at planning
    val ones = Set("n_lines", "line_chars", "n_words", "word_chars")
    val big = struct(RepetitionStats.fieldNames.map { f =>
      val v = if (f == "top3_chars") Long.MaxValue / 10 else if (ones(f)) 1L else 0L
      (col("id") + lit(v)).as(f)
    }: _*)
    val df = spark.range(1).select(big.as("s"))
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).mkString(" / ")
    Seq("NO_CODEGEN", "CODEGEN_ONLY").foreach { mode =>
      withFactoryMode(mode) {
        Seq(TextAnalysis.gopherPass(col("s")), gopherPassColumns(col("s"))).foreach { g =>
          val e = intercept[Exception](df.select(g).collect())
          assert(chain(e).contains("ARITHMETIC_OVERFLOW"), s"$mode: ${chain(e)}")
        }
      }
    }
  }
}
