package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MinHashSig, VecFunctions}
import graft.ops.Dedup

/** The near-dup pipeline computes each document's MinHash signature once,
  * keys bands with the native kernel bit-identically to the stored
  * formula, and shingles only candidate documents in verification. */
class NearDupOnceSpec extends SparkSpec {
  import spark.implicits._

  private def tempParquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val docs = tempParquet(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, null),
    (4L, ""),
    (5L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text"))

  /** MinHashSig nodes in one physical plan, not descending into caches. */
  private def minHashSigs(p: SparkPlan): Int = {
    val plan = p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case o => o }
    plan.collect { case n => n.expressions.map(_.collect { case m: MinHashSig => m }.size).sum }
      .sum
  }

  test("the signature frame evaluates MinHashSig once per row") {
    // a filter on sig used to be pushed beneath the projection with the
    // kernel substituted per reference: three MinHashSig (and shingle)
    // evaluations per row
    val bandTable = Dedup.minhashBandTable(docs, "text", "doc_id", 32, 8, 2)
    assert(minHashSigs(bandTable.queryExecution.executedPlan) === 1,
      bandTable.queryExecution.executedPlan.toString)
    val (pairs, release) = Dedup.minhashLshCached(docs, "text", "doc_id", 32, 8, 2, 0.5, 100)
    try {
      // every cache the pairs read (the signature frame and the band frame
      // over it), each counted once
      val caches = pairs.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r.cacheBuilder }.distinct
      assert(caches.size === 2)
      assert(caches.map(c => minHashSigs(c.cachedPlan)).sum === 1,
        caches.map(_.cachedPlan).mkString("\n"))
      // null text has no signature; empty text keeps its all-MaxValue one
      val (sigIds, sig4) = (Dedup.signatures(docs, "text", "doc_id", 32, 2)
        .select("id").as[Long].collect().sorted.toSeq,
        Dedup.signatures(docs, "text", "doc_id", 32, 2).filter(col("id") === 4L)
          .select("sig").as[Seq[Long]].head())
      assert(sigIds === Seq(1L, 2L, 4L, 5L))
      assert(sig4 === Seq.fill(32)(Long.MaxValue))
      assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
    } finally release()
    intercept[IllegalArgumentException](Dedup.signatures(docs, "text", "doc_id", 0, 2))
  }

  test("MinHashBandHashes equals the xxhash64(array_join(...)) band formula, interpreted and codegen") {
    val (numHashes, bands) = (24, 6)
    val r = numHashes / bands
    val rnd = new scala.util.Random(7)
    val special = Seq(Long.MaxValue, Long.MinValue, 0L, -1L, 9L, -10L)
    val sigs: Seq[Seq[java.lang.Long]] =
      (1 to 200).map(_ => Seq.fill(numHashes)(
        java.lang.Long.valueOf(if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.size))
        else rnd.nextLong()))) ++ Seq(
        Seq.fill(numHashes)(java.lang.Long.valueOf(Long.MaxValue)), // empty shingle set
        Seq.tabulate(numHashes)(i => if (i % 5 == 0) null else java.lang.Long.valueOf(i - 7L)),
        Seq.tabulate(numHashes - r - 1)(i => java.lang.Long.valueOf(-i.toLong)), // short
        Seq.empty)
    val df = tempParquet(sigs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "sig"))
    // the band-key formula stored band tables and streaming state hold
    val formula = array((0 until bands).map { b =>
      xxhash64(array_join(transform(slice(col("sig"), b * r + 1, r), _.cast(StringType)), ","))
    }: _*)
    def run(wholeStage: String, mode: String): Seq[(Int, Seq[Long], Seq[Long])] = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val prev = keys.map(spark.conf.getOption)
      keys.zip(Seq(wholeStage, mode)).foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("i"), VecFunctions.minhash_band_hashes(col("sig"), numHashes, bands),
          formula).as[(Int, Seq[Long], Seq[Long])].collect().sortBy(_._1).toSeq
      finally keys.zip(prev).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val compiled = run("true", "CODEGEN_ONLY")
    val interpreted = run("false", "NO_CODEGEN")
    assert(compiled.size === sigs.size)
    compiled.foreach { case (i, got, want) => assert(got === want, s"row $i") }
    assert(compiled === interpreted)
    intercept[IllegalArgumentException](VecFunctions.minhash_band_hashes(col("sig"), 24, 5))
  }

  test("ngramJaccardFor over candidates covering a subset equals the full-corpus pair scores") {
    val corpus = tempParquet(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "alpha beta gamma delta epsilon iota kappa"),
      (4L, null), // null text
      (5L, "alpha beta"), // shorter than shingleK = 3: no grams
      (6L, "alpha beta"),
      (7L, "one two three four five six"),
      (8L, "one two three four five six seven")).toDF("doc_id", "text"))
    // ids 3, 6 and 8 appear in no candidate pair; 99 is not in the corpus
    val cand = tempParquet(Seq((1L, 2L), (2L, 4L), (1L, 5L), (5L, 7L), (7L, 99L), (1L, 7L))
      .toDF("id_a", "id_b"))
    // reference: every pair of the corpus scored by the blocked self-join
    // (one block), restricted to the candidate pairs
    def reference(minJ: Double, minC: Option[Double]) =
      Dedup.ngramJaccard(corpus.withColumn("blk", lit(0)), "text", "doc_id", Seq("blk"),
          shingleK = 3, minJaccard = minJ, maxBlock = Int.MaxValue, minContainment = minC)
        .join(cand, Seq("id_a", "id_b"), "left_semi")
    for ((minJ, minC) <- Seq((0.5, None), (0.0, None), (0.9, Some(0.5)))) {
      val got = Dedup.ngramJaccardFor(corpus, "text", "doc_id", cand, 3, minJ, minC)
      val want = reference(minJ, minC)
      assert(got.columns.toSeq === want.columns.toSeq)
      val (g, w) = (got.collect().map(_.toString).sorted.toSeq,
        want.collect().map(_.toString).sorted.toSeq)
      assert(g === w, s"minJaccard=$minJ minContainment=$minC")
      assert(w.nonEmpty)
    }
  }

  test("minhashLsh drops buckets over maxBucket and keeps the rest") {
    // six identical copies fill every one of their buckets past maxBucket =
    // 4, so they pair with nobody; the near-dup pair (1, 2) is untouched
    val copies = (10L to 15L).map(i => (i, "lorem ipsum dolor sit amet consectetur"))
    val corpus = tempParquet((Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")) ++ copies).toDF("doc_id", "text"))
    def pairs(maxBucket: Int) = Dedup.minhashLsh(corpus, "text", "doc_id", 32, 8, 2, 0.5,
      maxBucket).select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(pairs(4) === Seq((1L, 2L)))
    assert(pairs(6).size === 1 + 15) // every copy pair once the cap admits them
  }

  test("the LSH kernels reject a bad input type at analysis") {
    val df = Seq((1, "a b c", Seq(1L, 2L), Seq("x"))).toDF("n", "text", "longs", "strs")
    val bad: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "word_shingles" -> VecFunctions.word_shingles(col("n"), 2),
      "minhash_sig" -> VecFunctions.minhash_sig(col("longs"), 8),
      "minhash_band_hashes" -> VecFunctions.minhash_band_hashes(col("strs"), 8, 4),
      "long_array_eq_count" -> VecFunctions.long_array_eq_count(col("longs"), col("strs")),
      "array_intersect_count" -> VecFunctions.array_intersect_count(col("strs"), col("longs")))
    bad.foreach { case (name, c) =>
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$name: ${e.getMessage}")
    }
    // the well-typed forms still analyze and run
    val ok = df.select(VecFunctions.long_array_eq_count(col("longs"), col("longs")),
      VecFunctions.array_intersect_count(col("strs"), col("strs")),
      size(VecFunctions.minhash_band_hashes(
        VecFunctions.minhash_sig(VecFunctions.word_shingles(col("text"), 2), 8), 8, 4)))
      .head()
    assert((ok.getInt(0), ok.getInt(1), ok.getInt(2)) === ((2, 1, 4)))
  }
}
