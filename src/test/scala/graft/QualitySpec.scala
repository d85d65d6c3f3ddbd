package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profiling → suggestion → metrics-history → schema-drift: the
  * data-quality loop added in the round-5 continuation. Hand-computed
  * expectations throughout; the sf-dir E2E rows are covered by the
  * v_profile / v_suggest / v_suggest_apply / v_metrics_anomaly /
  * v_schema_diff oracle queries. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private def sampleDf: DataFrame = Seq(
    (1L, Option("alice"), "A", 1.25),
    (2L, Option("bob"), "B", 2.50),
    (3L, Option.empty[String], "A", -0.75),
    (4L, Option("bob"), "C", 10.00)
  ).toDF("id", "name", "grade", "score")

  private def profMap(df: DataFrame): Map[String, Row] =
    df.collect().map(r => r.getString(0) -> r).toMap

  test("profile: exact counts, distincts, cents bounds, length bounds") {
    val p = profMap(Profiler.profile(sampleDf))
    assert(p.keySet == Set("id", "name", "grade", "score"))
    val id = p("id")
    assert(id.getString(1) == "long")
    assert(id.getLong(2) == 4 && id.getLong(3) == 0 && id.getLong(4) == 4)
    assert(id.getLong(5) == 100 && id.getLong(6) == 400) // cents
    assert(id.isNullAt(7) && id.isNullAt(8))
    val name = p("name")
    assert(name.getLong(3) == 1 && name.getLong(4) == 2)
    assert(name.isNullAt(5) && name.isNullAt(6))
    assert(name.getLong(7) == 3 && name.getLong(8) == 5) // bob..alice
    val grade = p("grade")
    assert(grade.getLong(3) == 0 && grade.getLong(4) == 3)
    assert(grade.getLong(7) == 1 && grade.getLong(8) == 1)
    val score = p("score")
    assert(score.getLong(5) == -75 && score.getLong(6) == 1000)
  }

  test("profile: timestamp bounds are exact epoch micros") {
    val df = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100, 123000))),
      (2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200, 456000)))
    ).toDF("id", "ts")
    val ts = profMap(Profiler.profile(df))("ts")
    assert(ts.getString(1) == "timestamp")
    assert(ts.getLong(5) == 100000123L && ts.getLong(6) == 200000456L)
  }

  test("profileApprox: same shape, exact n/nulls/bounds, distinct ~ exact") {
    val exact = profMap(Profiler.profileRaw(sampleDf))
    val approx = profMap(Profiler.profileApprox(sampleDf))
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (c, a) =>
      val e = exact(c)
      assert(a.getLong(2) == e.getLong(2) && a.getLong(3) == e.getLong(3))
      // HLL at cardinality 4 is exact in practice; allow ±1 to stay honest
      assert(math.abs(a.getLong(4) - e.getLong(4)) <= 1)
      (5 to 8).foreach(i => assert(a.isNullAt(i) == e.isNullAt(i)))
    }
  }

  test("profileBy: per-group rows, null group is a group, group col excluded") {
    val df = Seq(
      (1L, Option("g1"), 10.0), (2L, Option("g1"), 20.0),
      (3L, Option("g2"), 5.0), (4L, Option.empty[String], 7.0)
    ).toDF("id", "grp", "v")
    val p = Profiler.profileBy(df, "grp").collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) -> r).toMap
    assert(p.keySet.map(_._1) == Set(Some("g1"), Some("g2"), None))
    assert(!p.keySet.exists(_._2 == "grp"))
    val g1v = p((Some("g1"), "v"))
    assert(g1v.getLong(3) == 2 && g1v.getLong(5) == 2) // n, n_distinct
    assert(g1v.getLong(6) == 1000 && g1v.getLong(7) == 2000) // cents bounds
    val nullG = p((None, "id"))
    assert(nullG.getLong(3) == 1 && nullG.getLong(6) == 400)
    // approx grouped form: same shape
    val a = Profiler.profileApproxBy(df, "grp").collect()
    assert(a.length == p.size)
    intercept[IllegalArgumentException](Profiler.profileBy(df, "grp", Seq("grp")))
  }

  test("suggest: rules derived deterministically; round trip is violation-free") {
    val s = Suggest.suggest(sampleDf)
    val rules = s.rules.map(r => (r.col_name, r.rule, r.bound)).toSet
    assert(rules == Set(
      ("id", "non_null", "not null"),
      ("id", "unique", "distinct == rows"),
      ("id", "range", "[100,400]"),
      ("name", "enum", "alice,bob"),
      ("name", "length", "[3,5]"),
      ("grade", "non_null", "not null"),
      ("grade", "enum", "A,B,C"),
      ("grade", "length", "[1,1]"),
      ("score", "non_null", "not null"),
      ("score", "unique", "distinct == rows"),
      ("score", "range", "[-75,1000]")))
    // name has a null -> no non_null/unique; grade repeats -> no unique
    assert(Suggest.applyToSelf(sampleDf, "id").count() == 0)
  }

  test("suggest: frozen suite flags drifted data") {
    val s = Suggest.suggest(sampleDf)
    val suite = ConstraintSuite("id", s.rowChecks, s.aggChecks)
    val compiled = suite.compile(sampleDf.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val drifted = Seq(
      (5L, Option("carol-the-long-named"), "D", 99.0), // enum(grade), length(name), range(score)
      (5L, Option("dan"), "A", 1.25) // duplicate id
    ).toDF("id", "name", "grade", "score")
    val vios = compiled.run(drifted).violations
      .select("constraint_id").as[String].collect().toSet
    assert(vios.contains("enum(grade)"))
    assert(vios.contains("length(name)"))
    assert(vios.contains("range(score)"))
    assert(vios.contains("unique(id)"))
  }

  test("suggest: high-cardinality strings get no enum rule; fetch stays capped") {
    val wide = (0 until 40).map(i => (i.toLong, f"val$i%02d")).toDF("id", "s")
    val s = Suggest.suggest(wide, enumMaxK = 8)
    assert(!s.rules.exists(r => r.col_name == "s" && r.rule == "enum"))
    // at exactly K distinct values the enum IS suggested
    val atK = (0 until 40).map(i => (i.toLong, s"v${i % 8}")).toDF("id", "s")
    val s2 = Suggest.suggest(atK, enumMaxK = 8)
    assert(s2.rules.exists(r => r.col_name == "s" && r.rule == "enum" &&
      r.bound == (0 until 8).map(i => s"v$i").sorted.mkString(",")))
  }

  test("metrics repo: exactly-once append, marker-gated history") {
    val dir = Files.createTempDirectory("graft-metrics").toString
    val m0 = Seq(("rows", 10L), ("fail", 1L)).toDF("metric", "value")
    assert(MetricsRepo.append(m0, dir, 0))
    assert(!MetricsRepo.append(m0, dir, 0)) // idempotent no-op
    // a crashed append: data directory without its marker must be invisible
    Seq(("rows", 999L)).toDF("metric", "value")
      .write.parquet(s"$dir/run=1")
    val h1 = MetricsRepo.history(spark, dir)
    assert(h1.count() == 2 && h1.agg(max("run")).as[Long].head() == 0)
    // the retry overwrites the partial data and commits
    assert(MetricsRepo.append(Seq(("rows", 12L), ("fail", 0L)).toDF("metric", "value"), dir, 1))
    val h2 = MetricsRepo.history(spark, dir).orderBy("run", "metric")
      .as[(Long, String, Long)].collect().toSeq
    assert(h2 == Seq((0L, "fail", 1L), (0L, "rows", 10L), (1L, "fail", 0L), (1L, "rows", 12L)))
  }

  test("fromReport flattens totals plus per-check fail counts") {
    val report = Seq(
      (0, 10L, 8L, 2L, Map("range(x)" -> 2L, "nonnull(y)" -> 1L)),
      (1, 5L, 5L, 0L, Map("range(x)" -> 0L, "nonnull(y)" -> 0L))
    ).toDF("bucket_id", "rows", "pass", "fail", "fail_by_check")
    val m = MetricsRepo.fromReport(report).as[(String, Long)].collect().toMap
    assert(m == Map("rows" -> 15L, "pass" -> 13L, "fail" -> 2L,
      "fail:range(x)" -> 2L, "fail:nonnull(y)" -> 1L))
  }

  test("relChangeAnomalies: cross-multiplied threshold, prev=0 edge, first run exempt") {
    val h = Seq(
      (0L, "m", 100L), (1L, "m", 101L), (2L, "m", 150L), (3L, "m", 151L),
      (0L, "z", 0L), (1L, "z", 0L), (2L, "z", 5L)
    ).toDF("run", "metric", "value")
    val flagged = MetricsRepo.relChangeAnomalies(h, maxPct = 20)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(flagged == Set((2L, "m", 101L, 150L), (2L, "z", 0L, 5L)))
    // exactly AT the threshold is not an anomaly (strict >): 100 -> 120
    val edge = Seq((0L, "m", 100L), (1L, "m", 120L)).toDF("run", "metric", "value")
    assert(MetricsRepo.relChangeAnomalies(edge, 20).count() == 0)
    assert(MetricsRepo.relChangeAnomalies(edge, 19).count() == 1)
  }

  test("intervalAnomalies: historical envelope with integer widening") {
    val h = Seq(
      (0L, "m", 100L), (1L, "m", 110L), (2L, "m", 105L), (3L, "m", 108L),
      (4L, "m", 200L), // outside [100-1, 110+1]
      (4L, "fresh", 7L) // no prior history -> never flagged
    ).toDF("run", "metric", "value")
    val flagged = MetricsRepo.intervalAnomalies(h, atSeq = 4, widenPct = 10)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(flagged == Set((4L, "m", 100L, 110L, 200L)))
    // inside the widened envelope -> clean
    val ok = h.filter($"value" =!= 200L)
      .union(Seq((4L, "m", 111L)).toDF("run", "metric", "value"))
    assert(MetricsRepo.intervalAnomalies(ok, 4, 10).count() == 0)
  }

  test("madAnomalies: robust outlier with floored MAD") {
    val h = (0L to 3L).map(i => (i, "m", 100L)) :+ ((4L, "m", 500L))
    val flagged = MetricsRepo.madAnomalies(h.toDF("run", "metric", "value"), k = 10)
      .select("run").as[Long].collect().toSet
    assert(flagged == Set(4L)) // constant history not flagged despite MAD 0
  }

  test("streaming: per-batch metrics journaled exactly-once; anomalies surfaced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val schema = Seq(("x", 1)).toDF("doc_id", "n_tok").schema
    val compiled = ConstraintSuite("doc_id",
      Seq(NonNull("doc_id"), Range("n_tok", 0, 100)))
      .compile(schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val dir = Files.createTempDirectory("graft-stream-metrics").toString
    val seen = scala.collection.mutable.Map.empty[Long, Set[String]]
    val q = streaming.StreamValidate.metricsForeachBatch(
      compiled, mem.toDF().toDF("doc_id", "n_tok"), dir, maxPct = 50,
      onAnomalies = (df, id) =>
        seen.synchronized { seen(id) = df.select("metric").as[String].collect().toSet })
      .start()
    try {
      mem.addData((0 until 10).map(i => (s"d$i", 10)): _*); q.processAllAvailable()
      mem.addData((0 until 10).map(i => (s"e$i", 10)): _*); q.processAllAvailable()
      // batch 2: 8 of 10 rows out of range -> fail jumps 0 -> 8
      mem.addData((0 until 10).map(i => (s"f$i", if (i < 8) 900 else 10)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val h = MetricsRepo.history(spark, dir)
    assert(h.select("run").distinct().count() == 3)
    assert(h.filter($"run" === 2 && $"metric" === "fail:range(n_tok)")
      .select("value").as[Long].head() == 8)
    assert(seen(0).isEmpty && seen(1).isEmpty) // first run exempt; steady clean
    assert(seen(2).contains("fail") && seen(2).contains("fail:range(n_tok)"))
    assert(!seen.values.exists(_.contains("rows"))) // constant metric never flags
  }

  test("streaming: per-batch token drift alarms on the swapped source, skips absent groups, flags unknown sources") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // reference profile from an accepted corpus: two sources with disjoint
    // heavy tokens
    val ref = Drift.tokenUnigramProfile(Seq(
      ("web", Seq(1, 1, 1, 2)), ("web", Seq(1, 2, 3)),
      ("code", Seq(7, 7, 8))).toDF("source", "tokens"), "tokens", "source", 16)
    val mem = MemoryStream[(String, Seq[Int])]
    val seen = scala.collection.mutable.Map.empty[Long, Set[String]]
    val q = streaming.StreamValidate.tokenDriftForeachBatch(
      ref, mem.toDF().toDF("source", "tokens"), "tokens", "source",
      capacity = 16, topK = 2, maxDeltaFp = 200000,
      onBreach = (df, id) =>
        seen.synchronized { seen(id) = df.select("source").as[String].collect().toSet })
      .start()
    try {
      // batch 0: same rates as ref, and 'code' entirely absent -> quiet
      mem.addData(("web", Seq(1, 1, 1, 2)), ("web", Seq(1, 2, 3)))
      q.processAllAvailable()
      // batch 1: web's heavy token vanishes (tokenizer swap) -> breach;
      // an unknown source arrives -> breach
      mem.addData(("web", Seq(9, 9, 9, 9, 9, 9, 9)), ("mystery", Seq(1)))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen(0) == Set.empty[String]) // absent 'code' is cadence, not drift
    assert(seen(1) == Set("web", "mystery"))
  }

  test("streaming: quarantine split writes marker-complete batches; reader skips uncommitted partials") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = Seq(("x", 1)).toDF("doc_id", "n_tok").schema
    val compiled = ConstraintSuite("doc_id",
      Seq(NonNull("doc_id"), Range("n_tok", 0, 100)))
      .compile(schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val cleanDir = Files.createTempDirectory("graft-clean").toString
    val quarDir = Files.createTempDirectory("graft-quar").toString
    val mem = MemoryStream[(String, Int)]
    val q = streaming.StreamValidate.splitForeachBatch(
      compiled, mem.toDF().toDF("doc_id", "n_tok"), cleanDir, quarDir).start()
    try {
      mem.addData(("a", 10), ("b", 20)); q.processAllAvailable()
      mem.addData(("c", 10), ("d", 900), (null, 10)); q.processAllAvailable()
    } finally q.stop()
    val clean = streaming.StreamValidate.readCompletedBatches(spark, cleanDir)
    assert(clean.count() == 3)
    assert(clean.columns.toSet == Set("doc_id", "n_tok", "batch"))
    val quar = streaming.StreamValidate.readCompletedBatches(spark, quarDir)
    assert(quar.count() == 2)
    val ids = quar.select(explode(col("violations.constraint_id")))
      .as[String].collect().toSet
    assert(ids == Set("range(n_tok)", "nonnull(doc_id)"))
    // an uncommitted partial (data, no marker) is invisible to the reader
    Seq(("zz", 5)).toDF("doc_id", "n_tok")
      .write.parquet(s"$cleanDir/batch=99")
    assert(streaming.StreamValidate.readCompletedBatches(spark, cleanDir).count() == 3)
  }

  test("Reconcile: multiplicity-aware key parity, identical gate, split conservation") {
    val left = Seq("a", "a", "b", "c", null).toDF("k")
    val right = Seq("a", "b", "b", "d", null, null).toDF("k")
    val p = ops.Reconcile.keyParity(left, right, "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a: 2 vs 1 and b: 1 vs 2 -> count_mismatch; c lost; d invented;
    // null keys excluded on BOTH sides (no identity to reconcile)
    assert(p("count_mismatch") === ((2L, 3L, 3L)))
    assert(p("left_only") === ((1L, 1L, 0L)))
    assert(p("right_only") === ((1L, 0L, 1L)))
    assert(!p.contains("match"))
    assert(!ops.Reconcile.identical(left, right, "k"))
    assert(ops.Reconcile.identical(left, left, "k"))

    // conservation: a clean split partitions the input exactly
    val input = Seq("x", "x", "y", "z").toDF("k")
    val out1 = Seq("x", "x").toDF("k")
    val out2 = Seq("y", "z").toDF("k")
    val cons = ops.Reconcile.conservation(input, "k", Seq(out1, out2))
      .collect().map(r => r.getString(0)).toSet
    assert(cons == Set("match"))
    // an output overlap (y lands in both) breaks conservation
    val bad = ops.Reconcile.conservation(input, "k",
      Seq(out1, out2, Seq("y").toDF("k")))
      .filter(col("disposition") === "count_mismatch").count()
    assert(bad == 1L)
    intercept[IllegalArgumentException](ops.Reconcile.conservation(input, "k", Nil))
  }

  test("Reconcile.rowParity: content multisets per key, keyParity's blind spot covered") {
    val left = Seq((1L, "a", 10), (2L, "b", 20), (2L, "b2", 21),
      (3L, "c", 30), (4L, "d", 40), (5L, "e", 50)).toDF("k", "t", "n")
    val right = Seq(
      (1L, "a", 10),            // untouched -> match
      (2L, "b", 20), (2L, "b2", 21), // both copies intact -> match
      (3L, "c", 31),            // same key, edited n -> content_mismatch
      (4L, "d", 40), (4L, "d", 40), // re-multiplied -> count_mismatch
      (6L, "f", 60))            // invented; 5 lost
      .toDF("k", "t", "n")
    val p = ops.Reconcile.rowParity(left, right, "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(p("match") === ((2L, 3L, 3L)))
    assert(p("content_mismatch") === ((1L, 1L, 1L)))
    assert(p("count_mismatch") === ((1L, 1L, 2L)))
    assert(p("left_only") === ((1L, 1L, 0L)))
    assert(p("right_only") === ((1L, 0L, 1L)))

    // the blind spot: keyParity calls the edited-content frame all-match
    val kp = ops.Reconcile.keyParity(left.filter(col("k") === 3L),
      right.filter(col("k") === 3L), "k")
      .collect().map(_.getString(0)).toSet
    assert(kp == Set("match"))

    // column ORDER never matters (canonicalized); column SET does (guard)
    val reordered = right.select(col("n"), col("k"), col("t"))
    val p2 = ops.Reconcile.rowParity(left, reordered, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p2 === p.map { case (d, (nk, _, _)) => d -> nk })
    intercept[IllegalArgumentException](
      ops.Reconcile.rowParity(left, right.drop("n"), "k"))

    // null CONTENT fields keep positional identity: ("x", null) != (null, "x")
    val ln = Seq((1L, Some("x"), Option.empty[String])).toDF("k", "a", "b")
    val rn = Seq((1L, Option.empty[String], Some("x"))).toDF("k", "a", "b")
    val pn = ops.Reconcile.rowParity(ln, rn, "k")
      .collect().map(_.getString(0)).toSet
    assert(pn == Set("content_mismatch"))
  }

  test("Reconcile.columnDiff: per-column diff localization, multiplicity scoping") {
    val left = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L), (4L, "d", 40L), (5L, "e", 50L)).toDF("k", "t", "n")
    val right = Seq(
      (1L, "a", 10L),   // untouched
      (2L, "B", 20L),   // t edited
      (3L, "c", 31L),   // n edited
      (4L, "d", 40L),   // re-multiplied (2 vs 1) -> excluded from compare
      (6L, "f", 60L))   // invented; 5 lost -> both excluded
      .toDF("k", "t", "n")
    val d = ops.Reconcile.columnDiff(left, right, "k")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d === Map("t" -> ((3L, 1L)), "n" -> ((3L, 1L))))

    // same values SWAPPED between columns is a diff in both (ordinal salt)
    val swapped = Seq((1L, "x", "y")).toDF("k", "a", "b")
    val swapped2 = Seq((1L, "y", "x")).toDF("k", "a", "b")
    val ds = ops.Reconcile.columnDiff(swapped, swapped2, "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ds === Map("a" -> 1L, "b" -> 1L))

    // per-key value multisets are ORDER-independent: the same rows in a
    // different order (different value pairing across columns) still match
    // column-wise — columnDiff localizes columns, rowParity owns row identity
    val m1 = Seq((1L, "p", 1L), (1L, "q", 2L)).toDF("k", "t", "n")
    val m2 = Seq((1L, "q", 1L), (1L, "p", 2L)).toDF("k", "t", "n")
    val dm = ops.Reconcile.columnDiff(m1, m2, "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(dm === Map("t" -> 0L, "n" -> 0L))

    // null vs value is a diff; empty comparable set yields zero rows counted
    val n1 = Seq((1L, Some("x"))).toDF("k", "t")
    val n2 = Seq((1L, Option.empty[String])).toDF("k", "t")
    assert(ops.Reconcile.columnDiff(n1, n2, "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap === Map("t" -> 1L))
    val disjoint = ops.Reconcile.columnDiff(
      Seq((1L, "a")).toDF("k", "t"), Seq((2L, "a")).toDF("k", "t"), "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(disjoint.toSeq === Seq(("t", 0L, 0L)))
    intercept[IllegalArgumentException](
      ops.Reconcile.columnDiff(left, right.drop("n"), "k"))
    intercept[IllegalArgumentException](
      ops.Reconcile.columnDiff(left.select("k"), left.select("k"), "k"))
  }

  test("Reconcile.diffExamples: bounded, deterministic, non-match only, top-k plan") {
    val left = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"))
      .toDF("k", "t")
    val right = Seq((5L, "e"), (1L, "A"), (3L, "c"), (2L, "b"), (2L, "b"),
      (6L, "f")).toDF("k", "t")
    // non-match keys: 1 content, 2 count, 4 lost, 6 invented — smallest 3
    val ex = ops.Reconcile.diffExamples(left, right, "k", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(ex.toSeq === Seq(
      (1L, "content_mismatch", 1L, 1L),
      (2L, "count_mismatch", 1L, 2L),
      (4L, "left_only", 1L, 0L)))
    // widening the bound surfaces the invented key; identical frames: empty
    assert(ops.Reconcile.diffExamples(left, right, "k", 100).count() === 4L)
    assert(ops.Reconcile.diffExamples(left, left, "k").isEmpty)
    intercept[IllegalArgumentException](
      ops.Reconcile.diffExamples(left, right, "k", 0))
    // the ordered limit must be per-partition top-k, never a global sort
    val plan = ops.Reconcile.diffExamples(left, right, "k", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("Coverage audit: expression-derived column attribution, uncovered columns flagged") {
    val base = Seq((1L, Seq(1, 2), 2, "src0", "x"))
      .toDF("doc_id", "tokens", "n_tok", "source", "extra")
    val dim = Seq("src0").toDF("s")
    val suite = ConstraintSuite(
      keyCol = "doc_id",
      rowChecks = Seq(NonNull("doc_id"), Range("n_tok", min = 1),
        LengthConsistent("tokens", "n_tok")),
      aggChecks = Seq(Unique("doc_id"), RefIntegrity("source", dim, "s")))
    val compiled = suite.compile(base.schema).toOption.get
    val cov = Coverage.audit(spark, compiled, base.schema)
      .map(c => c.column -> c.checkIds).toMap
    assert(cov("doc_id") === Seq("nonnull(doc_id)", "unique(doc_id)"))
    assert(cov("tokens") === Seq("lengthConsistent(tokens,n_tok)"))
    assert(cov("n_tok") === Seq("lengthConsistent(tokens,n_tok)", "range(n_tok)"))
    // the dimension table's own column never mis-attributes to the input
    assert(cov("source") === Seq("ref(source->s)"))
    assert(cov("extra") === Nil)
    assert(Coverage.uncovered(spark, compiled, base.schema) === Seq("extra"))

    val df = Coverage.auditDf(spark, compiled, base.schema)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("doc_id" -> 2L, "tokens" -> 1L, "n_tok" -> 2L,
      "source" -> 1L, "extra" -> 0L))

    // a fully-covering suite reports nothing uncovered
    val full = ConstraintSuite("doc_id", rowChecks = Seq(NonNull("doc_id"),
      NonNull("tokens"), NonNull("n_tok"), NonNull("source"), NonNull("extra")))
      .compile(base.schema).toOption.get
    assert(Coverage.uncovered(spark, full, base.schema).isEmpty)
  }

  test("Coverage audit: drift checks read their value and group columns, with no job") {
    val base = Seq((1L, 2, "src0", "x")).toDF("doc_id", "n_tok", "source", "extra")
    val drift = Seq(DriftChiSquare("n_tok", "source", 2.0, 100.0),
      DriftPSI("n_tok", "source", 2.0, 0.25), DriftKS("n_tok", "source", 2.0, 0.2))
    val compiled = ConstraintSuite("doc_id", Seq(NonNull("doc_id")), drift)
      .compile(base.schema).toOption.get
    val sc = spark.sparkContext
    sc.setJobGroup("coverage-drift", "coverage audit of the drift checks")
    val cov = try Coverage.audit(spark, compiled, base.schema).map(c => c.column -> c.checkIds).toMap
      finally sc.clearJobGroup()
    val ids = drift.map(_.id).sorted
    assert(cov("n_tok") === ids && cov("source") === ids)
    assert(cov("doc_id") === Seq("nonnull(doc_id)") && cov("extra") === Nil)
    assert(sc.statusTracker.getJobIdsForGroup("coverage-drift").isEmpty)
  }

  test("Triage.topViolations: digit-fold classes, tie-break, bound, engine composition") {
    val vios = Seq(
      ("range(n)", "size 17 != 5", "d3"),
      ("range(n)", "size 9 != 3", "d1"),
      ("range(n)", "size 9 != 3", "d2"),
      ("range(n)", "oops", "d9"),
      ("nonnull(x)", "null seen", "d5")).toDF("constraint_id", "actual", "doc_id")
    val top = Triage.topViolations(vios, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    // three value-carrying messages fold into ONE class; independent minima
    assert(top === Set(
      ("range(n)", "size # != #", 3L, "size 17 != 5", "d1"),
      ("range(n)", "oops", 1L, "oops", "d9"),
      ("nonnull(x)", "null seen", 1L, "null seen", "d5")))
    // k bounds per check, count-desc: k=1 keeps only the folded class
    val k1 = Triage.topViolations(vios, k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(k1 === Set("range(n)" -> "size # != #", "nonnull(x)" -> "null seen"))
    // normalize=false: every distinct actual is its own class
    assert(Triage.topViolations(vios, k = 10, normalize = false)
      .filter(col("constraint_id") === "range(n)").count() === 3L)
    // ties break by pattern ascending (deterministic at any parallelism)
    val tied = Seq(("c", "b", "1"), ("c", "a", "2")).toDF("constraint_id", "actual", "doc_id")
    assert(Triage.topViolations(tied, k = 1, normalize = false)
      .collect().map(_.getString(1)).toSeq === Seq("a"))
    intercept[IllegalArgumentException](Triage.topViolations(vios, k = 0))

    // composes with the engine's real violations frame unchanged
    val corpus = DataGen.sequences(spark, 2000, maxLen = 16)
    val compiled = DataGen.standardSuite(spark, maxLen = 16).compile(Seq_.schema)
      .fold(es => sys.error(es.map(_.msg).mkString("; ")), identity)
    val t = Triage.topViolations(compiled.run(corpus).violations, k = 3)
    val perCheck = t.groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perCheck.nonEmpty && perCheck.values.forall(n => n >= 1 && n <= 3))
  }

  test("exact signatures: sha256 option drops the same rows; algos never mix in an index") {
    val store = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val batch = Seq((10L, "aa"), (11L, "cc")).toDF("doc_id", "text")
    val sigs256 = ops.Dedup.exactSignatures(store, "text", "doc_id", algo = "sha256")
    assert(sigs256.select("sig").as[String].collect().forall(_.length == 64))
    val kept = ops.Dedup.dropExactDupsAgainst(batch, "text", "doc_id", sigs256,
      algo = "sha256").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L)) // the verbatim re-crawl dropped, same as md5
    intercept[IllegalArgumentException](
      ops.Dedup.exactSignatures(store, "text", "doc_id", algo = "crc32"))
    // an index born md5 rejects a sha256 append via the parameter fingerprint
    val dir = Files.createTempDirectory("graft-sig-algo").toString
    assert(ops.DedupIndex.appendSignatures(store, "text", "doc_id", dir, "b1"))
    intercept[IllegalStateException](
      ops.DedupIndex.appendSignatures(batch, "text", "doc_id", dir, "b2", algo = "sha256"))
  }

  test("profileQuantiles: SQL-standard discrete picks, nulls out, micros for ts") {
    // 5 non-null values 10..50 -> disc quantile at q is element ceil(q*5)
    val df = Seq(Option(10.0), Option(20.0), Option(30.0), Option(40.0),
      Option(50.0), Option.empty[Double]).toDF("x")
      .withColumn("ts", timestamp_seconds(lit(1767225600L) + col("x")))
    val q = Profiler.profileQuantiles(df, Seq("x", "ts"), Seq(25, 50, 75, 95, 100))
      .collect().map(r => (r.getString(0), r.getLong(2)) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(q(("x", 25L)) == Some(2000L)) // ceil(0.25*5)=2nd element, cents
    assert(q(("x", 50L)) == Some(3000L))
    assert(q(("x", 75L)) == Some(4000L))
    assert(q(("x", 95L)) == Some(5000L))
    assert(q(("x", 100L)) == Some(5000L))
    // timestamp quantiles in epoch micros: base + 20s at the median
    val base = 1767225600000000L // 2026-01-01T00:00:00Z in micros (UTC session)
    assert(q(("ts", 50L)) == Some(base + 30000000L))
    assert(q(("ts", 25L)) == Some(base + 20000000L))
    // all-null column -> null quantiles, row still present
    val dfn = Seq(Option.empty[Double], Option.empty[Double]).toDF("y")
    val qn = Profiler.profileQuantiles(dfn, Seq("y"), Seq(50))
    assert(qn.count() == 1 && qn.head().isNullAt(3))
    // guards
    intercept[IllegalArgumentException](Profiler.profileQuantiles(df, Seq("x"), Nil))
    intercept[IllegalArgumentException](Profiler.profileQuantiles(df, Seq("x"), Seq(101)))
    intercept[IllegalArgumentException](Profiler.profileQuantiles(df, Seq("x"), Seq(50, 50)))
    intercept[IllegalArgumentException](Profiler.profileQuantiles(
      df.withColumn("s", lit("a")), Seq("s"), Seq(50)))
  }

  test("profileQuantilesBy: per-group picks; null group is a group") {
    val df = Seq((Option("a"), 10.0), (Option("a"), 20.0), (Option("a"), 30.0),
      (Option("b"), 100.0), (Option.empty[String], 7.0)).toDF("g", "x")
    val q = Profiler.profileQuantilesBy(df, "g", Seq("x"), Seq(50))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(4)).toMap
    assert(q(Some("a")) == 2000L && q(Some("b")) == 10000L && q(None) == 700L)
    intercept[IllegalArgumentException](
      Profiler.profileQuantilesBy(df, "g", Seq("g"), Seq(50)))
  }

  test("profileQuantilesApprox: same shape; exact at small scale") {
    val df = Seq.tabulate(1000)(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val exact = Profiler.profileQuantiles(df, Seq("id", "x"))
    val approx = Profiler.profileQuantilesApprox(df, Seq("id", "x"), accuracy = 100000)
    assert(exact.schema == approx.schema)
    val e = exact.collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    val a = approx.collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    // GK at accuracy >> n admits zero rank error -> identical element picks
    assert(e == a)
  }

  test("quantileShift: unchanged 0, doubled breaches, one-side-null breaches") {
    val ref = Seq((1L, 100.0), (2L, 200.0), (3L, 300.0)).toDF("id", "len")
    val cur = ref.withColumn("len", col("len") * 2)
    val rows = Drift.quantileShift(ref, cur, Seq("id", "len"), Seq(50), maxShiftC = 5000L)
      .collect().map(r => r.getString(0) -> r).toMap
    val id = rows("id")
    assert(id.getLong(2) == 200L && id.getLong(3) == 200L) // ref_c, cur_c
    assert(id.getLong(4) == 0L && id.getLong(5) == 0L) // shift, breach
    val len = rows("len")
    assert(len.getLong(2) == 20000L && len.getLong(3) == 40000L)
    assert(len.getLong(4) == 20000L && len.getLong(5) == 1L) // > 5000c
    // exactly-at-threshold does NOT breach (strict >), the boundary contract
    val at = Drift.quantileShift(ref, cur, Seq("len"), Seq(50), maxShiftC = 20000L)
      .head()
    assert(at.getLong(5) == 0L)
    // a column gone all-null on the current side is ALWAYS a breach
    val curNull = ref.withColumn("len", lit(null).cast("double"))
    val nullRow = Drift.quantileShift(ref, curNull, Seq("len"), Seq(50), maxShiftC = 5000L)
      .head()
    assert(nullRow.isNullAt(3) && nullRow.getLong(5) == 1L)
    // null on BOTH sides: no data either side -> not a breach
    val bothNull = Drift.quantileShift(curNull, curNull, Seq("len"), Seq(50), 5000L)
      .head()
    assert(bothNull.getLong(5) == 0L)
    intercept[IllegalArgumentException](
      Drift.quantileShift(ref, cur, Seq("len"), Seq(50), maxShiftC = -1L))
  }

  test("topValues: exact counts, value-asc tie-break, short columns, k guard") {
    val df = Seq("b", "b", "a", "a", "c", "c", "c", "d").map(Tuple1(_)).toDF("s")
      .withColumn("t", when(col("s") === "d", lit(null)).otherwise(lit("only")))
    val rows = Profiler.topValues(df, Seq("s", "t"), 3).collect()
      .map(r => (r.getString(0), r.getLong(3)) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(("s", 1L)) == ("c", 3L))
    assert(rows(("s", 2L)) == ("a", 2L)) // 2-count tie broken by value asc
    assert(rows(("s", 3L)) == ("b", 2L))
    assert(!rows.contains(("s", 4L))) // d cut at k=3
    // nulls excluded; a column with < k values yields < k rows
    assert(rows(("t", 1L)) == ("only", 7L) && !rows.contains(("t", 2L)))
    // numeric columns render as strings
    val num = Profiler.topValues(Seq(7L, 7L, 9L).toDF("n"), Seq("n"), 2).collect()
      .map(r => r.getLong(3) -> r.getString(1)).toMap
    assert(num(1L) == "7" && num(2L) == "9")
    intercept[IllegalArgumentException](Profiler.topValues(df, Seq("s"), 0))
  }

  test("UniqueTuple: composite dups flagged, any-null exempt, salted identical") {
    val df = Seq(
      (Option(1L), Option("a"), 1), (Option(1L), Option("a"), 2), // dup (1,a)
      (Option(1L), Option("b"), 3), (Option(2L), Option("a"), 4),
      (Option.empty[Long], Option("a"), 5), (Option.empty[Long], Option("a"), 6), // null exempt
      (Option(3L), Option.empty[String], 7), (Option(3L), Option.empty[String], 8)
    ).toDF("k1", "k2", "payload")
    val v = UniqueTuple(Seq("k1", "k2")).run(df).collect()
    assert(v.length == 1)
    assert(v.head.getString(0) == "unique(k1,k2)")
    assert(v.head.getString(4) == "1|a" && v.head.getString(3) == "count=2")
    val salted = UniqueTuple(Seq("k1", "k2"), salted = true, saltBuckets = 4)
      .run(df).collect()
    assert(salted.map(r => (r.getString(4), r.getString(3))).toSet ==
      v.map(r => (r.getString(4), r.getString(3))).toSet)
    // a '|' in a value cannot merge keys: grouping is typed, display-only join
    val tricky = Seq(("a|b", "c", 1), ("a", "b|c", 2)).toDF("k1", "k2", "p")
    assert(UniqueTuple(Seq("k1", "k2")).run(tricky).count() == 0)
    intercept[IllegalArgumentException](UniqueTuple(Nil))
    intercept[IllegalArgumentException](UniqueTuple(Seq("k1", "k1")))
    assert(UniqueTuple(Seq("k1", "missing")).selfCheck(df.schema).nonEmpty)
  }

  test("compositeKeys: minimal pairs only, null semantics, vacuous excluded") {
    // id unique alone -> every pair with id is redundant; (a,b) unique;
    // (a,c)/(b,c) not
    val df = Seq(
      (1L, "x", 1L, "m"), (2L, "x", 2L, "m"), (3L, "y", 1L, "m"), (4L, "y", 2L, "m")
    ).toDF("id", "a", "b", "c")
    assert(Suggest.compositeKeys(df, Seq("id", "a", "b", "c")) == Seq(Seq("a", "b")))
    val rules = Suggest.compositeKeyDf(spark, df, Seq("a", "b", "c")).collect()
    assert(rules.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a,b", "composite_unique")))
    // uniqueness judged over COMPLETE rows: the null-b row's (x,null) does
    // not collide with (x,1)
    val withNull = Seq(
      (Option("x"), Option(1L)), (Option("x"), Option(2L)), (Option("x"), Option.empty[Long])
    ).toDF("a", "b")
    assert(Suggest.compositeKeys(withNull, Seq("a", "b")) == Seq(Seq("a", "b")))
    // a pair with ZERO complete rows is vacuous, never suggested (neither
    // column is unique alone here, so only the cnt>0 guard excludes it)
    val vacuous = Seq(
      (Option("x"), Option.empty[Long]), (Option("x"), Option.empty[Long])
    ).toDF("a", "b")
    assert(Suggest.compositeKeys(vacuous, Seq("a", "b")).isEmpty)
    // empty table -> nothing
    assert(Suggest.compositeKeys(df.limit(0), Seq("a", "b")).isEmpty)
    intercept[IllegalArgumentException](Suggest.compositeKeys(df, Seq("a")))
    intercept[IllegalArgumentException](Suggest.compositeKeys(df, Seq("a", "a")))
    // discovered pair compiles to a clean UniqueTuple on its own table
    assert(UniqueTuple(Seq("a", "b")).run(df).count() == 0)
  }

  test("relChangeAnomalies seasonLag: weekday pattern clean at its period") {
    // period-2 pattern 100,10,100,10,... with a planted break at run 6
    val h = Seq(
      (0L, 100L), (1L, 10L), (2L, 100L), (3L, 10L), (4L, 100L), (5L, 10L),
      (6L, 300L), (7L, 10L)
    ).map { case (r, v) => (r, "rows", v) }.toDF("run", "metric", "value")
    val lag1 = MetricsRepo.relChangeAnomalies(h, maxPct = 50)
      .select("run").as[Long].collect().toSet
    assert(lag1 == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L)) // every alternation flags
    val lag2 = MetricsRepo.relChangeAnomalies(h, maxPct = 50, seasonLag = 2)
      .select("run").as[Long].collect().toSet
    assert(lag2 == Set(6L)) // only the real break; runs 0-1 exempt (no lag-2)
    intercept[IllegalArgumentException](
      MetricsRepo.relChangeAnomalies(h, maxPct = 50, seasonLag = 0))
  }

  test("topValuesApprox: exact (err 0) within capacity at ANY parallelism") {
    val df = Seq.tabulate(200)(i => Tuple1(s"v${i % 7}")).toDF("s")
    val exact = Profiler.topValues(df, Seq("s"), 5).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
    Seq(1, 8).foreach { p =>
      val rows = Profiler.topValuesApprox(df.repartition(p), Seq("s"), 5, capacity = 16)
        .collect()
      assert(rows.forall(_.getLong(4) == 0L)) // self-certified exact
      assert(rows.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet == exact)
    }
    intercept[IllegalArgumentException](Profiler.topValuesApprox(df, Seq("s"), 0))
    intercept[IllegalArgumentException](
      Profiler.topValuesApprox(df, Seq("s"), k = 10, capacity = 5))
  }

  test("topValuesApprox: MG guarantee under eviction — heavy hitter survives") {
    // 6000 copies of the hitter + 4000 singletons, capacity 50: evictions
    // certain, yet any value with true frequency > err must be reported
    val df = spark.range(10000).selectExpr(
      "CASE WHEN id < 6000 THEN 'hot' ELSE CONCAT('u', id) END AS s")
      .repartition(16)
    val rows = Profiler.topValuesApprox(df, Seq("s"), k = 1, capacity = 50).collect()
    assert(rows.length == 1)
    val (value, cnt, err) = (rows.head.getString(1), rows.head.getLong(2), rows.head.getLong(4))
    assert(value == "hot")
    assert(err > 0 && err <= 10000L / 50) // the n/capacity bound, evictions real
    assert(cnt <= 6000L && cnt >= 6000L - err) // counter is an underestimate within err
  }

  test("schema diff: added/removed/type_changed/nullability_relaxed") {
    val expected = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType), StructField("c", IntegerType)))
    val actual = StructType(Seq(
      StructField("a", LongType), StructField("c", LongType),
      StructField("d", StringType)))
    val d = SchemaDiff.diff(expected, actual)
      .map(c => (c.col_name, c.change, c.expected, c.actual))
    assert(d == Seq(
      ("a", "nullability_relaxed", "required", "nullable"),
      ("b", "removed", "string", ""),
      ("c", "type_changed", "integer", "long"),
      ("d", "added", "", "string")))
    assert(SchemaDiff.diff(expected, expected).isEmpty)
  }

  test("suite diff: added/removed/params_changed, multiset ids, suite-level knobs") {
    val dim = Seq("web").toDF("source")
    val v1 = ConstraintSuite("doc_id",
      rowChecks = Seq(NonNull("doc_id"), Range("n_tok", 1, 8192),
        Regex("doc_id", "^doc-[0-9]+$")),
      aggChecks = Seq(Unique("doc_id"), RefIntegrity("source", dim, "source")))
    // v2: range bound quietly loosened, regex dropped, salting added, a
    // new length check appears
    val v2 = ConstraintSuite("doc_id",
      rowChecks = Seq(NonNull("doc_id"), Range("n_tok", 1, 16384),
        ArraySizeBounds("tokens", min = Some(1), max = None)),
      aggChecks = Seq(Unique("doc_id", salted = true),
        RefIntegrity("source", dim, "source")))
    val d = SuiteDiff.diff(v1, v2).map(c => (c.check_id, c.change))
    assert(d === Seq(
      ("range(n_tok)", "params_changed"),
      ("regex(doc_id)", "removed"),
      ("sizeBounds(tokens)", "added"),
      ("unique(doc_id)", "params_changed")))
    // the loosened bound is visible in the payload
    val rangeRow = SuiteDiff.diff(v1, v2).find(_.check_id == "range(n_tok)").get
    assert(rangeRow.expected.contains("8192") && rangeRow.actual.contains("16384"))
    assert(SuiteDiff.identical(v1, v1) && !SuiteDiff.identical(v1, v2))
    // duplicate ids compare as multisets: two overlapping ranges vs one
    val dup1 = ConstraintSuite("k", Seq(Range("n", 1, 10), Range("n", 5, 20)))
    val dup2 = ConstraintSuite("k", Seq(Range("n", 5, 20), Range("n", 1, 10)))
    assert(SuiteDiff.identical(dup1, dup2)) // order never matters
    assert(SuiteDiff.diff(dup1, ConstraintSuite("k", Seq(Range("n", 1, 10))))
      .map(_.change) === Seq("params_changed"))
    // suite-level knobs
    val knobs = SuiteDiff.diff(ConstraintSuite("a", Nil, nBuckets = 64),
      ConstraintSuite("b", Nil, nBuckets = 128)).map(c => (c.check_id, c.change))
    assert(knobs === Seq(("(keyCol)", "params_changed"), ("(nBuckets)", "params_changed")))
    // DataFrame form round-trips
    assert(SuiteDiff.diffDf(spark, v1, v2).count() === 4L)
  }

  test("plan: profileApprox is Expand-free (one pass); exact profile pays Expand") {
    val approx = Profiler.profileApprox(sampleDf).queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"),
      "the 10^12-row profile form must not multiply the scan")
    val exact = Profiler.profile(sampleDf).queryExecution.executedPlan.toString
    assert(exact.contains("Expand"),
      "exact multi-column distincts are WHY profileApprox exists — if Spark " +
        "stops needing Expand here, update the Profiler scaladoc cost note")
  }

  test("plan: anomaly windows partition by metric (never a single global sort)") {
    val h = Seq((0L, "m", 1L), (1L, "m", 2L)).toDF("run", "metric", "value")
    // logical plan: AQE wraps the physical tree pre-execution
    val rel = MetricsRepo.relChangeAnomalies(h, 20).queryExecution.optimizedPlan
    val windows = rel.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(windows.nonEmpty && windows.forall(_.nonEmpty))
  }

  test("sf-dir E2E: the five new SparkEntry queries produce the expected shapes") {
    val dir = "/root/testdata/sf0.001"
    val prof = SparkEntry.queries("v_profile")(spark, dir)
    assert(prof.count() == 5)
    val sug = SparkEntry.queries("v_suggest")(spark, dir)
      .as[(String, String, String)].collect()
    // lang (5 values) gets an enum; source (20 values) must not at K=8
    assert(sug.exists(r => r._1 == "lang" && r._2 == "enum"))
    assert(!sug.exists(r => r._1 == "source" && r._2 == "enum"))
    assert(sug.exists(r => r._1 == "doc_id" && r._2 == "unique"))
    assert(SparkEntry.queries("v_suggest_apply")(spark, dir).count() == 0)
    val anom = SparkEntry.queries("v_metrics_anomaly")(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq
    // runs 3 (306->420, +37%) and 4 (420->309, -26%) for both metrics
    assert(anom.map(r => (r._1, r._2)).toSet ==
      Set((3L, "rows"), (3L, "n_chars_sum"), (4L, "rows"), (4L, "n_chars_sum")))
    // interval strategy over the SAME shared fixture: run 3 exits the
    // prior envelope for both metrics
    val interval = SparkEntry.queries("v_metrics_interval")(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(interval.map(r => (r._1, r._2)).toSet ==
      Set((3L, "rows"), (3L, "n_chars_sum")))
    interval.foreach(r => assert(r._5 > r._4, "flagged above the envelope"))
    val sd = SparkEntry.queries("v_schema_diff")(spark, dir)
      .as[(String, String, String, String)].collect().toSet
    assert(sd == Set(
      ("lang", "added", "", "string"),
      ("n_chars", "type_changed", "integer", "long"),
      ("quality", "removed", "double", "")))
  }

  test("ColOrder: predicate, null exemption, strictness, selfCheck guards") {
    val df = Seq(
      (Option(1.0), Option(2.0)),  // a < b: passes both forms
      (Option(3.0), Option(3.0)),  // tie: passes <=, violates <
      (Option(5.0), Option(4.0)),  // a > b: violates both
      (Option.empty[Double], Option(1.0)), // null side: exempt
      (Option(1.0), Option.empty[Double])
    ).toDF("a", "b")
    def vioCount(c: RowConstraint): Long = df.filter(!c.pred).count()
    assert(vioCount(ColOrder("a", "b")) == 1)
    assert(vioCount(ColOrder("a", "b", allowEqual = false)) == 2)
    assert(vioCount(ColOrder("b", "a")) == 1) // only (1,2) has b > a
    // violation entry carries both sides
    val v = df.select(explode(ColOrder("a", "b").vios).as("v")).select("v.*").head()
    assert(v.getString(0) == "colOrder(a<=b)")
    assert(v.getString(2) == "<= column b" && v.getString(3) == "5.0 vs b=4.0")
    // selfCheck: unknown column, same column, incomparable types; mixed
    // numerics and same-type timestamps are fine
    val schema = df.schema
      .add("s", StringType).add("i", IntegerType)
      .add("t1", TimestampType).add("t2", TimestampType)
    assert(ColOrder("a", "zzz").selfCheck(schema).nonEmpty)
    assert(ColOrder("a", "a").selfCheck(schema).nonEmpty)
    assert(ColOrder("a", "s").selfCheck(schema).nonEmpty)
    assert(ColOrder("s", "t1").selfCheck(schema).nonEmpty)
    assert(ColOrder("a", "i").selfCheck(schema).isEmpty)
    assert(ColOrder("t1", "t2").selfCheck(schema).isEmpty)
    assert(ColOrder("s", "s2").selfCheck(schema.add("s2", StringType)).isEmpty)
  }

  test("orderings: kinds, direction flip, vacuous + incomparable skips, checks hold") {
    val df = Seq(
      (1.0, 10.0, 1.0, 5.0, Option(2.0), "x"),
      (2.0, 20.0, 2.0, 1.0, Option.empty[Double], "y"),
      (3.0, 30.0, 3.0, 9.0, Option.empty[Double], "z")
    ).toDF("lo", "hi", "eqlo", "mixed", "van", "s")
    // lo < hi strictly; lo == eqlo everywhere; mixed violates both ways
    // vs lo; van is null except one row (pair (lo,van): 2>? only one
    // complete row, lo=1 < van=2 -> lt on n_complete=1); s incomparable
    val rules = Suggest.orderings(df, Seq("lo", "hi", "eqlo", "mixed", "van", "s"))
    val byPair = rules.map(r => (r.col_a, r.col_b) -> r).toMap
    assert(byPair(("lo", "hi")).kind == "lt" && byPair(("lo", "hi")).n_complete == 3)
    assert(byPair(("lo", "eqlo")).kind == "eq" && byPair(("lo", "eqlo")).n_eq == 3)
    // direction flip: hi > mixed on every row, so the rule emits reversed
    assert(byPair(("mixed", "hi")).kind == "lt")
    assert(!byPair.contains(("lo", "mixed")) && !byPair.contains(("mixed", "lo")))
    assert(byPair(("lo", "van")).kind == "lt" && byPair(("lo", "van")).n_complete == 1)
    assert(rules.forall(r => r.col_a != "s" && r.col_b != "s"))
    // every derived check holds on the training table by construction
    val checks = Suggest.orderingChecks(rules)
    assert(checks.nonEmpty)
    checks.foreach(c => assert(df.filter(!c.pred).count() == 0, c.id))
    // eq emits both directions
    assert(checks.map(_.id).count(
      Set("colOrder(lo<=eqlo)", "colOrder(eqlo<=lo)")) == 2)
    // all-null pair is vacuous: never suggested
    val allNull = Seq((Option.empty[Double], Option.empty[Double]))
      .toDF("p", "q")
    assert(Suggest.orderings(allNull, Seq("p", "q")).isEmpty)
    // fully incomparable list yields Nil (not an error)
    val mixedTypes = Seq((1.0, "a")).toDF("n", "t")
    assert(Suggest.orderings(mixedTypes, Seq("n", "t")).isEmpty)
    intercept[IllegalArgumentException](Suggest.orderings(df, Seq("lo")))
    intercept[IllegalArgumentException](Suggest.orderings(df, Seq("lo", "lo")))
    intercept[IllegalArgumentException](Suggest.orderings(df, Seq("lo", "nope")))
  }

  test("oovProfile: exact counts, null array/element edges, integral rate") {
    val df = Seq(
      ("a", Seq(Option(0), Option(5), Option(9))),          // all in [0,10)
      ("a", Seq(Option(-1), Option(10), Option(3))),         // two OOV
      ("a", Seq(Option(2), Option.empty[Int])),              // null elem = OOV
      ("b", Seq.empty[Option[Int]]),                         // zero tokens
      ("b", null)                                            // null array = 0 tokens
    ).toDF("source", "tokens")
    val p = Drift.oovProfile(df, "tokens", "source", vocabSize = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = p("a")
    assert(a.getLong(1) == 3 && a.getLong(2) == 8 && a.getLong(3) == 3)
    assert(a.getLong(4) == 375000L) // floor(3*10^6 / 8)
    val b = p("b")
    assert(b.getLong(1) == 2 && b.getLong(2) == 0 && b.getLong(3) == 0)
    assert(b.isNullAt(4)) // zero tokens -> rate undefined, not 0
    intercept[IllegalArgumentException](Drift.oovProfile(df, "source", "source", 10))
    intercept[IllegalArgumentException](Drift.oovProfile(df, "tokens", "source", 0))
    // forced-codegen equality for the new kernel (no silent fallback)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    def run(mode: String): Seq[String] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.filter(col("tokens").isNotNull)
        .select(graft.functions.VecFunctions
          .array_count_out_of_range(col("tokens"), 0, 9).as("n"))
        .collect().map(_.toString).toSeq
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(run("CODEGEN_ONLY") === run("NO_CODEGEN"))
  }

  test("Compliance: exact rate gate, boundary inclusive, grouped vs table-wide, vacuous empty") {
    val df = Seq(
      ("a", 10.0), ("a", 20.0), ("a", -1.0), ("a", -2.0), // a: 2/4 pass = 500000
      ("b", 5.0), ("b", -9.0), ("b", -8.0),               // b: 1/3 pass = 333333
      ("c", 1.0)                                          // c: 1/1 pass
    ).toDF("src", "v")
    val inner = Range("v", min = 0)
    // grouped: only b is under 400000 (a is exactly 500000; floor(1/3*10^6)=333333)
    val g = Compliance(inner, 400000L, Some("src")).run(df).collect()
    assert(g.length == 1)
    assert(g.head.getString(4) == "b" && g.head.getString(3) == "pass_fp=333333 (1 of 3)")
    assert(g.head.getString(0) == "compliance(range(v) by src)")
    // boundary: pass_fp == minPassFp is NOT a violation (>= semantics)
    assert(Compliance(inner, 500000L, Some("src")).run(df)
      .collect().map(_.getString(4)).toSet == Set("b"))
    // table-wide: 4/8 = 500000 under 600000 -> one <table> row
    val t = Compliance(inner, 600000L).run(df).collect()
    assert(t.length == 1 && t.head.getString(4) == "<table>")
    // null passes the inner leaf (leaf stance) and so counts as compliant
    val withNull = Seq(("a", Option.empty[Double]), ("a", Option(-1.0))).toDF("src", "v")
    val wn = Compliance(inner, 600000L, Some("src")).run(withNull).collect()
    assert(wn.head.getString(3) == "pass_fp=500000 (1 of 2)")
    // empty table: vacuously compliant, zero violation rows
    assert(Compliance(inner, 1000000L).run(df.filter(lit(false))).count() == 0)
    // selfCheck: inner errors propagate; bad ratio and unknown group caught
    assert(Compliance(Range("zzz", min = 0), 1L).selfCheck(df.schema).nonEmpty)
    assert(Compliance(inner, -1L).selfCheck(df.schema).nonEmpty)
    assert(Compliance(inner, 1000001L).selfCheck(df.schema).nonEmpty)
    assert(Compliance(inner, 1L, Some("nope")).selfCheck(df.schema).nonEmpty)
    assert(Compliance(inner, 999999L, Some("src")).selfCheck(df.schema).isEmpty)
  }

  test("monotonicBreaks: breaks + first break, tie semantics, null exclusion, guards") {
    val df = Seq(
      // g1: 1,3,2,5 along o=1..4 -> one break (3 -> 2 at o=3)
      ("g1", 1L, 10L), ("g1", 2L, 30L), ("g1", 3L, 20L), ("g1", 4L, 50L),
      // g2: clean ascent -> no row
      ("g2", 1L, 1L), ("g2", 2L, 2L),
      // g3: order TIE with differing values: sorted by (o, v) -> passes non-strict
      ("g3", 1L, 7L), ("g3", 1L, 3L), ("g3", 2L, 9L),
      // g4: two breaks; first break must be the earliest in (o, v) order
      ("g4", 1L, 9L), ("g4", 2L, 4L), ("g4", 3L, 1L)
    ).toDF("g", "o", "v")
    val b = Sequential.monotonicBreaks(df, "g", "o", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(b.keySet == Set("g1", "g4"))
    assert(b("g1").getLong(1) == 1 && b("g1").getLong(2) == 3 &&
      b("g1").getLong(3) == 30 && b("g1").getLong(4) == 20)
    assert(b("g4").getLong(1) == 2 && b("g4").getLong(2) == 2 &&
      b("g4").getLong(3) == 9 && b("g4").getLong(4) == 4)
    // strict: equal adjacent values violate (g5), order-tie equal values too
    val eq = Seq(("g5", 1L, 4L), ("g5", 2L, 4L)).toDF("g", "o", "v")
    assert(Sequential.monotonicBreaks(eq, "g", "o", "v").count() == 0)
    assert(Sequential.monotonicBreaks(eq, "g", "o", "v", strict = true).count() == 1)
    // null group/order/value rows are excluded from the series
    val withNulls = Seq(
      (Option("g6"), Option(1L), Option(10L)),
      (Option("g6"), Option(2L), Option.empty[Long]), // gap: ignored
      (Option("g6"), Option(3L), Option(20L)),
      (Option.empty[String], Option(4L), Option(5L)),
      (Option("g6"), Option.empty[Long], Option(1L))
    ).toDF("g", "o", "v")
    assert(Sequential.monotonicBreaks(withNulls, "g", "o", "v").count() == 0)
    intercept[IllegalArgumentException](Sequential.monotonicBreaks(df, "g", "o", "zzz"))
    intercept[IllegalArgumentException](Sequential.monotonicBreaks(df, "g", "g", "v"))
  }

  test("MonotonicWithin: violation entry shape and selfCheck guards") {
    val df = Seq(("g1", 1L, 10L), ("g1", 2L, 5L)).toDF("g", "o", "v")
    val rows = MonotonicWithin("g", "o", "v").run(df).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "monotonic(v <= next by o within g)")
    assert(r.getString(1) == "v" && r.getString(2) == "monotone (<=) along o")
    assert(r.getString(3) == "breaks=1 first at o=2: 10 -> 5")
    assert(r.getString(4) == "g1")
    val s = df.schema
    assert(MonotonicWithin("g", "o", "zzz").selfCheck(s).nonEmpty)
    assert(MonotonicWithin("g", "g", "v").selfCheck(s).nonEmpty)
    assert(MonotonicWithin("g", "o", "v").selfCheck(s).isEmpty)
    val arr = s.add("a", ArrayType(LongType))
    assert(MonotonicWithin("g", "o", "a").selfCheck(arr).nonEmpty)
  }

  test("oovShift: breach on moved rate, appeared group, token appearance; quiet otherwise") {
    val mk = (rows: Seq[(String, Seq[Int])]) =>
      Drift.oovProfile(rows.toDF("source", "tokens"), "tokens", "source", 10)
    val ref = mk(Seq(
      ("web", Seq(1, 2, 3, 4)),         // rate 0
      ("code", Seq(1, -5)),             // rate 500000
      ("empty", Seq.empty[Int])))       // tokenless both sides
    val cur = mk(Seq(
      ("web", Seq(1, 2, 3, -9)),        // rate 250000: moved
      ("code", Seq(2, -5)),             // rate 500000: unchanged
      ("empty", Seq.empty[Int]),
      ("new-src", Seq(1))))             // appeared
    val s = Drift.oovShift(ref, cur, "source", maxDeltaFp = 100000)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(s("web").getAs[Long]("breach") == 1 && s("web").getAs[Long]("delta_fp") == 250000L)
    assert(s("code").getAs[Long]("breach") == 0 && s("code").getAs[Long]("delta_fp") == 0L)
    assert(s("empty").getAs[Long]("breach") == 0) // null rates both sides
    assert(s("new-src").getAs[Long]("breach") == 1) // appeared -> breach
    // tokens appearing inside an existing group breaches even though the
    // tokenless side has no defined rate
    val cur2 = mk(Seq(("empty", Seq(1, 2))))
    val s2 = Drift.oovShift(ref.filter(col("source") === "empty"), cur2, "source", 100000)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(s2("empty").getAs[Long]("breach") == 1)
    intercept[IllegalArgumentException](Drift.oovShift(ref, cur, "source", -1))
  }

  test("TokenFreqSketch: exact when distinct <= capacity, parallelism-stable; self-certified underestimates past it") {
    import graft.functions.TokenFreqSketch.token_freq_sketch
    val rows = Seq(
      ("a", Seq(1, 1, 1, 2)), ("a", Seq(1, 3)),
      ("b", Seq(2, 2, 2, 2, 9))).toDF("g", "tokens")
    def prof(parts: Int) = rows.repartition(parts)
      .groupBy(col("g")).agg(token_freq_sketch(col("tokens"), 16).as("sk"))
      .select(col("g"), col("sk.items"), col("sk.err"))
      .collect().map(r => (r.getString(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1))),
        r.getLong(2))).sortBy(_._1).toSeq
    val p1 = prof(1)
    assert(p1 === prof(7)) // err == 0 => content-determined at any parallelism
    val m = p1.map(x => x._1 -> x).toMap
    assert(m("a")._2 === Seq((1L, 4L), (2L, 1L), (3L, 1L))) // cnt desc, token asc
    assert(m("a")._3 == 0L && m("b")._3 == 0L)
    assert(m("b")._2 === Seq((2L, 4L), (9L, 1L)))

    // past capacity: the heavy hitter survives with a bounded underestimate
    val heavy = Seq(("h", Seq(5, 5, 5, 5, 6, 7, 8))).toDF("g", "tokens")
    val r = heavy.groupBy(col("g")).agg(token_freq_sketch(col("tokens"), 2).as("sk"))
      .select(col("sk.items"), col("sk.err")).collect().head
    val items = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getLong(0), x.getLong(1)))
    val err = r.getLong(1)
    assert(err > 0)
    val five = items.find(_._1 == 5L).get._2
    assert(five <= 4L && five >= 4L - err) // true - err <= cnt <= true
  }

  test("tokenUnigramShift: moved rates breach, absent watchlist token reads rate 0, one-sided group breaches") {
    val mk = (rows: Seq[(String, Seq[Int])]) =>
      Drift.tokenUnigramProfile(rows.toDF("g", "tokens"), "tokens", "g", 16)
    val ref = mk(Seq(
      ("a", Seq(1, 1, 1, 2)), ("a", Seq(1, 3)), // 1->4/6, 2->1/6, 3->1/6
      ("c", Seq(7, 8)), // watchlist 7, 8 at 500000 each
      ("gone", Seq(1))))
    val cur = mk(Seq(
      ("a", Seq(1, 1, 2, 2)), ("a", Seq(2, 3)), // 1->2/6, 2->3/6, 3->1/6
      ("c", Seq(9, 9)))) // both watch tokens vanish
    val s = Drift.tokenUnigramShift(ref, cur, "g", topK = 2, maxDeltaFp = 300000)
      .collect().map(r => r.getString(0) -> r).toMap
    // top-2 of a: token 1 (cnt 4) then token 2 (tie cnt 1, token asc beats 3)
    assert(s("a").getAs[Long]("n_top") == 2L)
    assert(s("a").getAs[Long]("n_breach") == 2L) // -333333 and +333334
    assert(s("a").getAs[Long]("max_abs_delta_fp") == 333334L)
    assert(s("a").getAs[Long]("breach") == 1L)
    assert(s("c").getAs[Long]("max_abs_delta_fp") == 500000L) // absent -> 0 rate
    assert(s("gone").getAs[Long]("breach") == 1L) // group only in ref
    assert(s("a").getAs[Long]("ref_err") == 0L && s("a").getAs[Long]("cur_err") == 0L)
    // quiet when nothing moved
    val same = Drift.tokenUnigramShift(ref, ref, "g", topK = 2, maxDeltaFp = 0)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("breach")).toMap
    assert(same.values.forall(_ == 0L))
    intercept[IllegalArgumentException](
      Drift.tokenUnigramShift(ref, cur, "g", topK = 0, maxDeltaFp = 1))
    intercept[IllegalArgumentException](
      Drift.tokenUnigramProfile(ref, "g", "g", 4)) // non-array column

    // err comes from the GROUP-level sketch, not the item-match rows: a
    // current sketch that evicted every watchlist token must still report
    // its true err, so err == 0 can never falsely certify an MG-eviction
    // artifact as a confirmed breach
    val refE = Drift.tokenUnigramProfile(
      Seq(("e", Seq(1, 1, 2))).toDF("g", "tokens"), "tokens", "g", 16)
    val curE = Drift.tokenUnigramProfile(
      Seq(("e", Seq(3, 4, 5))).toDF("g", "tokens"), "tokens", "g", 2) // eviction
    val se = Drift.tokenUnigramShift(refE, curE, "g", topK = 2, maxDeltaFp = 1)
      .collect().head
    assert(se.getAs[Long]("cur_err") > 0L)
    assert(se.getAs[Long]("ref_err") == 0L)
    assert(se.getAs[Long]("breach") == 1L)
  }
}
