package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.ops.{Dedup, Pipeline, TextAnalysis, UnigramLM}

/** One benchmark workload over inputs the Python generator wrote. A pass
  * runs the workload's graft calls and consumes every output in full (an
  * aggregate over all columns, never a bare count), returning a digest that
  * the oracle checks and that must repeat exactly from pass to pass. */
trait Workload {
  def inputRows: Long

  /** One pass through the public API, as a user would write it. */
  def pass(): Map[String, Any]

  /** The part of a digest that must repeat exactly from pass to pass. */
  def stable(digest: Map[String, Any]): Map[String, Any] = digest

  /** The same computations with each public call in its own span and forced
    * by its own action. Returns the digest and the counts that only the
    * decomposed form can see (candidate pairs, violation rows, ...). */
  def tracedPass(tr: Tracer): (Map[String, Any], Map[String, Double])

  /** Windows (path, start ms, end ms) of a traced pass that no span can
    * wrap, because they lie inside one public call; found from the call
    * sites of the pass's jobs. */
  def windows(spans: Seq[Span], jobs: Seq[JobRecord]): Seq[(String, Long, Long)] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String, meta: JsonNode): Workload = name match {
    case "validate" => new ValidateWorkload(spark, dir, meta)
    case "neardup" => new NearDupWorkload(spark, dir, meta)
    case "quality" => new QualityWorkload(spark, dir, meta)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Order-independent checksum of whole rows: Σ pmod(xxhash64(cols), 2^31-1). */
  def rowSum(cols: Column*): Column = sum(pmod(xxhash64(cols: _*), lit(2147483647L)))

  /** Order-independent checksum of a long id column that the oracle can
    * recompute without Spark's hash: Σ (id · 2654435761) mod 2^32. */
  def idMix(id: Column): Column = sum(pmod(id * lit(2654435761L), lit(4294967296L)))

  /** Release the blocks behind a localCheckpoint'ed frame. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}

import Workload._

/** The paper's headline operation: the north-rule suite (eight row checks,
  * Unique, RefIntegrity, DriftChiSquare) over a tokenized-sequence table. */
final class ValidateWorkload(spark: SparkSession, dir: String, meta: JsonNode) extends Workload {
  private val df = spark.read.parquet(s"$dir/sequences.parquet")
  private val dim = spark.read.parquet(s"$dir/sources.parquet")
  val inputRows: Long = meta.get("rows").asLong
  private val maxLen = meta.get("max_len").asInt
  private val vocab = meta.get("vocab").asInt

  private val suite = ConstraintSuite(
    keyCol = "doc_id",
    rowChecks = Seq(
      NonNull("doc_id"),
      Regex("doc_id", meta.get("doc_id_pattern").asText),
      NonNull("source"),
      Range("n_tok", 1, maxLen),
      LengthConsistent("tokens", "n_tok"),
      ArrayElemRange("tokens", 0, vocab - 1),
      ArrayContainsValue("tokens", meta.get("bos").asInt),
      ArraySizeBounds("tokens", min = Some(1), max = Some(maxLen))),
    aggChecks = Seq(
      Unique("doc_id"),
      RefIntegrity("source", dim, "source"),
      DriftChiSquare("n_tok", "source", binWidth = meta.get("bin_width").asDouble,
        threshold = meta.get("chi2_threshold").asDouble)))

  private val elemId = ArrayElemRange("tokens", 0, vocab - 1).id
  private val driftId = suite.aggChecks.last.id

  private def compile(): CompiledSuite =
    suite.compile(df.schema).fold(e => sys.error(s"suite does not compile: $e"), identity)

  /** Per constraint: violation count and row checksum; the element spans and
    * the χ² values ride along for the oracle. One action. The χ² text is left
    * out of the checksum: its float sum depends on row order. */
  private def violations(v: DataFrame): Map[String, Any] = {
    val actual = when(col("constraint_id") =!= driftId, col("actual"))
    val rows = v.groupBy("constraint_id").agg(
      count(lit(1)).as("n"),
      rowSum(col("constraint_id"), col("path"), col("bound"), actual,
        col("doc_id"), col("bucket_id")).as("h"),
      collect_list(when(col("constraint_id").isin(elemId, driftId),
        struct(col("doc_id"), col("path"), col("actual")))).as("detail"))
      .collect()
    Map(
      "violations" -> rows.map(r => r.getString(0) -> Map("n" -> r.getLong(1), "h" -> r.getLong(2))).toMap,
      "detail" -> rows.flatMap(r => r.getSeq[Row](3).map(d =>
        Seq(r.getString(0), d.getString(0), d.getString(1), d.getString(2)))).toSeq
        .sortBy(_.mkString("\u0001")))
  }

  private def report(r: DataFrame): Map[String, Any] = {
    val rows = r.collect()
    val byCheck = rows.flatMap(_.getMap[String, Long](4).toSeq)
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    Map("report" -> Map(
      "buckets" -> rows.length,
      "rows" -> rows.map(_.getLong(1)).sum,
      "pass" -> rows.map(_.getLong(2)).sum,
      "fail" -> rows.map(_.getLong(3)).sum,
      "fail_by_check" -> byCheck,
      "h" -> rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getMap[String, Long](4).toSeq.sorted)).sortBy(_._1).toSeq.hashCode))
  }

  override def stable(digest: Map[String, Any]): Map[String, Any] =
    digest.updated("detail", digest("detail").asInstanceOf[Seq[Seq[String]]]
      .map(d => if (d.head == driftId) d.take(3) else d))

  private def merge(parts: Seq[Map[String, Any]]): Map[String, Any] = Map(
    "violations" -> parts.flatMap(_("violations").asInstanceOf[Map[String, Any]]).toMap,
    "detail" -> parts.flatMap(_("detail").asInstanceOf[Seq[Seq[String]]]).sortBy(_.mkString("\u0001")))

  def pass(): Map[String, Any] = {
    val res = compile().run(df)
    violations(res.violations) ++ report(res.report)
  }

  def tracedPass(tr: Tracer): (Map[String, Any], Map[String, Double]) = {
    val c = tr.span("suite.compile")(compile())
    val ann = c.annotate(df)
    val rep = tr.span("engine.flags")(report(c.bucketReport(ann)))
    val rowV = tr.span("engine.violations")(violations(c.rowViolations(ann)))
    val names = Map("unique" -> "constraints.unique", "ref" -> "constraints.ref", "drift" -> "drift.chi2")
    val aggV = c.aggChecks.map { a =>
      val span = names(a.id.takeWhile(_ != '('))
      tr.span(span)(violations(a.run(df).select(
        col("constraint_id"), col("path"), col("bound"), col("actual"),
        col("key").cast("string").as("doc_id"), c.bucketOf(col("key")).as("bucket_id"))))
    }
    val rowCount = rowV("violations").asInstanceOf[Map[String, Map[String, Long]]].values.map(_("n")).sum
    (merge(rowV +: aggV) ++ rep, Map("engine.violations.rows" -> rowCount.toDouble))
  }
}

/** Near-duplicate removal: MinHash-LSH, n-gram Jaccard verification,
  * connected components and the anti-join, over documents with planted
  * one-word-edit clusters. */
final class NearDupWorkload(spark: SparkSession, dir: String, meta: JsonNode) extends Workload {
  private val df = spark.read.parquet(s"$dir/docs.parquet")
  val inputRows: Long = meta.get("rows").asLong

  private def survivors(s: DataFrame): Map[String, Any] = {
    val r = s.agg(count(lit(1)), rowSum(col("doc_id"), col("text")), sum(col("doc_id")),
      idMix(col("doc_id"))).head()
    Map("survivors" -> Map("n" -> r.getLong(0), "h" -> r.getLong(1), "id_sum" -> r.getLong(2),
      "id_mix" -> r.getLong(3)))
  }

  def pass(): Map[String, Any] = survivors(Dedup.dropNearDups(df, "text", "doc_id"))

  /** `minhashLshCached` and `ngramJaccardFor`, each checkpointed so that it
    * runs in its own span, then the real `dropNearDups` in span `dedup.drop`.
    * Connected components and the anti-join run inside `dropNearDups` (its
    * private CC loop is not public), so they are split off by [[windows]]. */
  def tracedPass(tr: Tracer): (Map[String, Any], Map[String, Double]) = {
    val (cand, release) = tr.span("dedup.lsh") {
      val (c, r) = Dedup.minhashLshCached(df, "text", "doc_id")
      (c.localCheckpoint(true), r)
    }
    val verified = tr.span("dedup.verify") {
      Dedup.ngramJaccardFor(df, "text", "doc_id", cand, shingleK = 3, minJaccard = 0.8)
        .select("id_a", "id_b").localCheckpoint(true)
    }
    release()
    val (nCand, nVer) = (cand.count(), verified.count())
    Seq(cand, verified).foreach(freeCheckpoint)
    val digest = tr.span("dedup.drop")(pass())
    (digest, Map(
      "dedup.candidates" -> nCand.toDouble,
      "dedup.verified" -> nVer.toDouble,
      "dedup.verify_yield" -> (if (nCand > 0) nVer.toDouble / nCand else 0.0)))
  }

  /** Splits the `dedup.drop` span at its CC jobs, the jobs whose call site
    * is in Dedup's connected-components code. The first of them is the
    * action that checkpoints the initial edge set; LSH and verification run
    * inside it, so the span up to its end is `lsh_verify`. From there to the
    * end of the last CC job is `dedup.cc` (the CC rounds and the loser-set
    * checkpoint, with the driver time between them); the rest of the span
    * is `dedup.anti_join` (the anti-join and the consuming action). No
    * window is reported when no job matches. */
  override def windows(spans: Seq[Span], jobs: Seq[JobRecord]): Seq[(String, Long, Long)] =
    spans.find(_.path == "dedup.drop").toSeq.flatMap { s =>
      val cc = jobs.filter(j => j.label == s.path && NearDupWorkload.CcSite.findFirstIn(j.site).isDefined)
        .sortBy(_.startMs)
      cc.headOption.toSeq.flatMap { first =>
        val ccStart = cc.filter(_.site == first.site).map(_.endMs).max
        val ccEnd = cc.map(_.endMs).max
        Seq(("dedup.drop/lsh_verify", s.startMs, ccStart), ("dedup.drop/dedup.cc", ccStart, ccEnd),
          ("dedup.drop/dedup.anti_join", ccEnd, s.endMs))
      }
    }
}

object NearDupWorkload {
  /** A frame of Dedup's connected-components code in a job's call site. */
  val CcSite = """graft\.ops\.Dedup\$\.(\S*\$)?(ccEdges|componentLosers|connectedComponents)\(""".r
}

/** A CCNet-style flow over multilingual documents: quality and Gopher gates
  * with their audit, an order-5 LM trained on a hash sample of the
  * survivors, and the per-language exact-tertile selection, consuming its
  * survivors and then its counts. */
final class QualityWorkload(spark: SparkSession, dir: String, meta: JsonNode) extends Workload {
  private val df = spark.read.parquet(s"$dir/docs.parquet")
  val inputRows: Long = meta.get("rows").asLong
  private val sizes = {
    val it = meta.get("lm_sizes").elements()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asInt).toSeq
  }
  private val fraction = meta.get("sample_fraction").asDouble

  private def gates: Seq[(String, Column)] = {
    val t = col("text")
    Seq(
      "quality" -> TextAnalysis.qualityPass(t),
      "gopher_repetition" -> TextAnalysis.gopherPass(TextAnalysis.repetitionStats(t)),
      "gopher_quality" -> TextAnalysis.gopherQualityPass(t))
  }

  private def audit(a: DataFrame): Map[String, Any] =
    Map("audit" -> a.collect().map(r => r.getString(0) -> r.getLong(2)).toMap)

  private def gateSurvivors(s: DataFrame): Map[String, Any] = {
    val r = s.agg(count(lit(1)), rowSum(col("doc_id"), col("lang"), col("text")),
      idMix(col("doc_id"))).head()
    Map("gate_survivors" -> Map("n" -> r.getLong(0), "h" -> r.getLong(1), "id_mix" -> r.getLong(2)))
  }

  private def train(s: DataFrame): UnigramLM.NgramModel =
    UnigramLM.trainNgram(s, "text", sizes, trainFraction = fraction, idCol = "doc_id")

  private def select(s: DataFrame, model: UnigramLM.NgramModel): (DataFrame, DataFrame) =
    Pipeline.ccnetSelect(s, "text", "doc_id", "lang", model, keep = Set("head", "middle"),
      sampleFraction = fraction, exact = true)

  /** Survivors first, then the counts: the order the selection's doc asks
    * callers to consume its two frames in. */
  private def consumeSelect(sel: DataFrame, counts: DataFrame): Map[String, Any] = {
    val r = sel.agg(count(lit(1)),
      rowSum(col("doc_id"), col("lang"), col("text"), col("logprob_fp"), col("n_tok"),
        col("ppl_fp"), col("bucket")),
      idMix(col("doc_id")), sum(col("ppl_fp"))).head()
    val c = counts.collect().map(x => s"${x.getString(0)}/${x.getString(1)}" -> x.getLong(2)).toMap
    Map(
      "selected" -> Map("n" -> r.getLong(0), "h" -> r.getLong(1), "id_mix" -> r.getLong(2),
        "ppl_sum" -> r.getLong(3)),
      "counts" -> c)
  }

  def pass(): Map[String, Any] = {
    val (surv, aud) = Pipeline.filterWithAudit(df, gates)
    val a = audit(aud)
    val g = gateSurvivors(surv)
    val model = train(surv)
    val (sel, counts) = select(surv, model)
    a ++ g ++ consumeSelect(sel, counts) + ("model_entries" -> model.grams.map(_.size).sum)
  }

  def tracedPass(tr: Tracer): (Map[String, Any], Map[String, Double]) = {
    val (surv, a) = tr.span("pipeline.audit") {
      val (s, aud) = Pipeline.filterWithAudit(df, gates)
      (s, audit(aud))
    }
    val g = tr.span("text.gates")(gateSurvivors(surv))
    val model = tr.span("lm.train")(train(surv))
    tr.span("lm.score") {
      UnigramLM.scoreNgram(surv, "text", model)
        .agg(sum(col("logprob_fp")), sum(col("n_tok"))).head()
    }
    val s = tr.span("pipeline.select") {
      val (sel, counts) = tr.span("pipeline.thresholds")(select(surv, model))
      consumeSelect(sel, counts)
    }
    val entries = model.grams.map(_.size).sum
    (a ++ g ++ s + ("model_entries" -> entries), Map("lm.model_entries" -> entries.toDouble))
  }
}
