package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Pipeline, Sampling, UnigramLM}

/** The LM trainer and the exact CCNet selection read their input once.
  * Inputs are Parquet files: only a file scan reports input records (an
  * in-memory frame reports none). A cached relation reports one record
  * per cached batch it reads back, so a one-scan call reads N rows plus at
  * most one batch per partition for each pass over its cache. */
class OneScanSpec extends SparkSpec {
  import spark.implicits._

  private val fluent = Seq("the quick brown fox jumps over the lazy dog",
    "a stitch in time saves nine and then some more", "pack my box with five dozen jugs")

  /** N documents in two languages, three of them tokenless, as Parquet. */
  private def parquetDocs(n: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-onescan").resolve("docs").toString
    (1 to n).map { i =>
      val text = if (i % 50 == 0) "!!! ???" else s"${fluent(i % 3)} w${i % 17} w${i % 5}"
      (i.toLong, if (i % 2 == 0) "en" else "de", text)
    }.toDF("doc_id", "lang", "text").repartition(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** `body`'s result and the input records its tasks read. */
  private def recordsRead[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val n = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("trainNgram over a lazily filtered Parquet frame scans it once, not once per level") {
    val docs = parquetDocs(200).filter(length(col("text")) > 0)
    val n = docs.count()
    val parts = docs.rdd.getNumPartitions
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val (m, read) = recordsRead(UnigramLM.trainNgram(docs, "text", Seq(30, 30, 30)))
    // one scan fills the token cache; the total and the 3 levels read it back
    assert(read >= n && read <= n + 4 * parts, s"read $read records for $n rows")
    assert(m.order === 3 && m.grams.forall(_.nonEmpty))
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
  }

  test("ccnetSelect(exact): the input is scored once in either consumption order") {
    val docs = parquetDocs(200)
    val parts = docs.rdd.getNumPartitions
    val model = UnigramLM.trainNgram(docs, "text", Seq(40, 40))
    val scoredRows = docs.count() - 4 // the tokenless docs have no perplexity
    def select() = Pipeline.ccnetSelect(docs, "text", "doc_id", "lang", model,
      sampleFraction = 0.5, exact = true)
    def survivorsOf(s: DataFrame) =
      s.select("doc_id", "bucket").collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    def countsOf(c: DataFrame) =
      c.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ((s1, c1), read1) = recordsRead {
      val (s, c) = select()
      val surv = survivorsOf(s)
      (surv, countsOf(c))
    }
    val ((s2, c2), read2) = recordsRead {
      val (s, c) = select()
      val cnt = countsOf(c)
      (survivorsOf(s), cnt)
    }
    // one scan fills the scored cache; the threshold sample, the counts and
    // the survivors read it back
    for (read <- Seq(read1, read2))
      assert(read >= 200 && read <= 200 + 3 * parts, s"read $read records for 200 rows")
    assert(c1.values.sum === scoredRows && c2.values.sum === scoredRows)
    assert(c1 === c2 && s1 === s2)
    assert(s1.size.toLong === c1.collect { case ((_, b), k) if b != "tail" => k }.sum)
  }

  test("ccnetSelect(exact): a language absent from the threshold sample fails at the call") {
    val docs = parquetDocs(60)
    val sampled = Sampling.deterministicSample(docs, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val excluded = (1L to 60L).find(i => !sampled.contains(i) && i % 50 != 0).get
    val relabelled = docs.withColumn("lang",
      when(col("doc_id") === excluded, lit("eu")).otherwise(col("lang")))
    val model = UnigramLM.trainNgram(docs, "text", Seq(40, 40))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[Exception] {
      Pipeline.ccnetSelect(relabelled, "text", "doc_id", "lang", model,
        sampleFraction = 0.5, exact = true)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no sampled thresholds for group eu")), e.toString)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
  }

  test("GraftSession.selectMaster: local[cores] unless SPARK_GRAFT_MASTER is set") {
    assert(GraftSession.selectMaster(4, Map.empty) === ("local[4]", false))
    assert(GraftSession.selectMaster(4, Map("OTHER" -> "x")) === ("local[4]", false))
    assert(GraftSession.selectMaster(4, Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]"))
      === ("local-cluster[2,1,1024]", true))
  }
}
