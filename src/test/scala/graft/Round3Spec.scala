package graft

import org.apache.spark.sql.functions._

/** Round-3 semantics: general `contains` subschema (C13 completion),
  * general `propertyNames` (C20 completion), draft-07 `dependencies`,
  * positional-false items, null enum entries, and null-key sampling. */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  private def parseOk(json: String, key: String = "doc_id"): ConstraintSuite =
    JsonSchema.parse(json, key).fold(es => fail(es.map(_.msg).mkString("; ")), identity)

  private def parseErr(json: String): List[SuiteError] =
    JsonSchema.parse(json, "doc_id").fold(identity, _ => fail("expected compile errors"))

  // ---------------------------------------------------------------------
  // C13 general contains
  // ---------------------------------------------------------------------

  test("ArrayContainsSchema: at least one element in range") {
    val df = Seq(
      ("a", Seq(1, 5, 9)), // 5 in [4,6] -> pass
      ("b", Seq(1, 2, 3)), // none -> fail
      ("c", Seq.empty[Int]), // empty -> fail (nothing can witness)
      ("d", null: Seq[Int])) // null array passes (null stance)
      .toDF("doc_id", "xs")
    val c = ArrayContainsSchema("xs", Seq(ElemRange(4, 6)))
    assert(c.selfCheck(df.schema).isEmpty)
    val failed = df.filter(!c.pred).select("doc_id").as[String].collect().toSet
    assert(failed === Set("b", "c"))
  }

  test("ArrayContainsSchema: combined pattern + length over string arrays") {
    val df = Seq(
      ("a", Seq("x", "token99", "y")), // token99 matches ^token & length>=6
      ("b", Seq("token", "zz"))) // "token" matches but too short
      .toDF("doc_id", "xs")
    val c = ArrayContainsSchema("xs",
      Seq(ElemPatternPred("^token"), ElemLengthPred(Some(6), None)))
    assert(c.selfCheck(df.schema).isEmpty)
    val failed = df.filter(!c.pred).select("doc_id").as[String].collect().toSet
    assert(failed === Set("b"))
  }

  test("ArrayContainsSchema selfCheck: type routing + bad bounds") {
    val df = Seq(("a", Seq(1))).toDF("doc_id", "xs")
    // string pred on an int array -> type mismatch
    assert(ArrayContainsSchema("xs", Seq(ElemPatternPred("a"))).selfCheck(df.schema).nonEmpty)
    // inverted range -> InvalidBounds
    assert(ArrayContainsSchema("xs", Seq(ElemRange(5, 1))).selfCheck(df.schema).nonEmpty)
    // empty preds -> error
    assert(ArrayContainsSchema("xs", Nil).selfCheck(df.schema).nonEmpty)
  }

  test("loader: contains schema-form compiles to ArrayContainsSchema with a span") {
    val df = Seq(
      ("a", Seq(10, 50, 90)),
      ("b", Seq(10, 20))).toDF("doc_id", "xs")
    val suite = parseOk(
      """{"properties":{"doc_id":{"type":"string"},
          "xs":{"contains":{"minimum":40,"maximum":60}}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val v = compiled.run(df).violations.collect()
    assert(v.length === 1)
    val row = v.head
    assert(row.getAs[String]("constraint_id") === "containsSchema(xs)")
    assert(row.getAs[String]("doc_id") === "b")
    assert(row.getAs[String]("path") === "xs")
    assert(row.getAs[String]("bound").contains("in [40.0,60.0]"))
  }

  test("loader: contains true/false/type-only forms") {
    val df = Seq(("a", Seq(1)), ("b", Seq.empty[Int])).toDF("doc_id", "xs")
    // contains: true == "has at least one element"
    val sTrue = parseOk("""{"properties":{"xs":{"contains":true}}}""")
    val cTrue = sTrue.compile(df.schema).toOption.get
    assert(df.filter(!cTrue.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSet === Set("b"))
    // contains: false == no array passes
    val sFalse = parseOk("""{"properties":{"xs":{"contains":false}}}""")
    val cFalse = sFalse.compile(df.schema).toOption.get
    assert(df.filter(!cFalse.rowChecks.map(_.pred).reduce(_ && _)).count() === 2)
    // contains: {"type":"integer"} == element type conforms + >=1 element
    val sType = parseOk("""{"properties":{"xs":{"contains":{"type":"integer"}}}}""")
    val cType = sType.compile(df.schema).toOption.get
    assert(df.filter(!cType.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSet === Set("b"))
    // ... and a non-conforming element type is a compile error
    val dfStr = Seq(("a", Seq("x"))).toDF("doc_id", "xs")
    assert(sType.compile(dfStr.schema).isLeft)
  }

  test("loader: contains with minItems merges, no duplicate-id collision") {
    val df = Seq(("a", Seq(1, 5)), ("b", Seq(1))).toDF("doc_id", "xs")
    val suite = parseOk(
      """{"properties":{"xs":{"contains":true,"minItems":2}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(df.filter(!compiled.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSet === Set("b"))
  }

  // ---------------------------------------------------------------------
  // C12: positional false items
  // ---------------------------------------------------------------------

  test("loader: items:[schema, false] compiles to maxItems=1 (merged cap)") {
    val df = Seq(("a", Seq(3)), ("b", Seq(3, 4))).toDF("doc_id", "xs")
    val suite = parseOk(
      """{"properties":{"xs":{"items":[{"minimum":0}, false]}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val failed = df.filter(!compiled.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSet
    assert(failed === Set("b"))
    // merged with an explicit LOOSER maxItems: the false-position cap wins
    val suite2 = parseOk(
      """{"properties":{"xs":{"items":[{"minimum":0}, false],"maxItems":5}}}""")
    assert(suite2.compile(df.schema).isRight)
    val failed2 = df.filter(!suite2.compile(df.schema).toOption.get
      .rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSet
    assert(failed2 === Set("b"))
  }

  // ---------------------------------------------------------------------
  // C20 general propertyNames
  // ---------------------------------------------------------------------

  test("MapKeyLength: key character-length bounds with per-key spans") {
    val df = Seq(
      ("a", Map("ok" -> 1, "toolongkey" -> 2)),
      ("b", Map("fine" -> 1))).toDF("doc_id", "m")
    val c = MapKeyLength("m", None, Some(6))
    assert(c.selfCheck(df.schema).isEmpty)
    assert(df.filter(!c.pred).select("doc_id").as[String].collect().toSet === Set("a"))
    val vios = df.select(explode(c.vios).as("v")).select("v.path").as[String].collect().toSet
    assert(vios === Set("m.toolongkey"))
  }

  test("loader: propertyNames with maxLength + enum + type string") {
    val df = Seq(("a", Map("k1" -> 1, "other" -> 2))).toDF("doc_id", "m")
    val suite = parseOk(
      """{"properties":{"m":{"propertyNames":{"type":"string","maxLength":3,"enum":["k1","k2"]}}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val ids = compiled.rowChecks.map(_.id).toSet
    assert(ids.contains("mapKeyLength(m)") && ids.contains("mapKeysIn(m)"))
    // "other": too long AND not in enum
    val v = compiled.run(df).violations
      .select("constraint_id").as[String].collect().toSet
    assert(v === Set("mapKeyLength(m)", "mapKeysIn(m)"))
    // non-string propertyNames type is an error
    val errs = parseErr("""{"properties":{"m":{"propertyNames":{"type":"integer"}}}}""")
    assert(errs.exists(_.msg.contains("string")))
  }

  // ---------------------------------------------------------------------
  // draft-07 dependencies
  // ---------------------------------------------------------------------

  test("root dependencies: array form — present column requires others") {
    val df = Seq(
      ("a", "cc-1", "addr-1"), // cc present, addr present -> ok
      ("b", "cc-2", null: String), // cc present, addr missing -> violation
      ("c", null: String, null: String)) // cc absent -> ok
      .toDF("doc_id", "credit_card", "billing_address")
    val suite = parseOk(
      """{"properties":{"doc_id":{"type":"string"}},
          "dependencies":{"credit_card":["billing_address"]}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val bad = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(bad === Set("b"))
  }

  test("root dependencies: schema form applies properties when key present") {
    val df = Seq(
      ("a", "x", 5), // trigger present, n in range
      ("b", "x", 50), // trigger present, n out of range -> violation
      ("c", null: String, 50)) // trigger absent -> ok
      .toDF("doc_id", "trigger", "n")
    val suite = parseOk(
      """{"properties":{"doc_id":{"type":"string"}},
          "dependencies":{"trigger":{"properties":{"n":{"maximum":10}}}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val bad = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(bad === Set("b"))
  }

  test("map-column dependencies: key presence requires other keys") {
    val df = Seq(
      ("a", Map("cc" -> 1L, "addr" -> 2L)),
      ("b", Map("cc" -> 1L)),
      ("c", Map("other" -> 3L))).toDF("doc_id", "m")
    val suite = parseOk(
      """{"properties":{"m":{"dependencies":{"cc":["addr"]}}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    val bad = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(bad === Set("b"))
  }

  // ---------------------------------------------------------------------
  // enum null entries + root keyword flagging
  // ---------------------------------------------------------------------

  test("enum with a null entry does NOT admit the string \"null\"") {
    val df = Seq(("1", "a"), ("2", "null"), ("3", null: String)).toDF("doc_id", "s")
    val suite = parseOk("""{"properties":{"s":{"enum":[null,"a"]}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    // row 2 carries the literal STRING "null" -> must violate; row 3 is
    // genuinely null -> passes (EnumIn's null stance)
    val bad = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(bad === Set("2"))
  }

  test("null-only enum compiles to IsNull") {
    val df = Seq(("1", "a"), ("2", null: String)).toDF("doc_id", "s")
    val suite = parseOk("""{"properties":{"s":{"enum":[null]}}}""")
    val compiled = suite.compile(df.schema)
      .fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(compiled.rowChecks.exists(_.isInstanceOf[IsNull]))
    val bad = compiled.run(df).violations.select("doc_id").as[String].collect().toSet
    assert(bad === Set("1"))
  }

  test("unsupported ROOT structural keywords are compile errors") {
    val errs = parseErr(
      """{"allOf":[{"properties":{"a":{"minimum":0}}}],
          "properties":{"a":{"type":"integer"}}}""")
    assert(errs.exists(e => e.msg.contains("allOf")))
    val errs2 = parseErr("""{"type":"array","properties":{"a":{}}}""")
    assert(errs2.exists(_.msg.contains("root type")))
  }

  // ---------------------------------------------------------------------
  // large-star/small-star connected components
  // ---------------------------------------------------------------------

  test("connected components: a 1000-node chain converges within O(log n) rounds") {
    import graft.ops.Dedup
    // min-label propagation needs ~1000 rounds here; the alternating
    // large-star/small-star algorithm must finish within maxIter=12
    val chain = spark.range(0, 999)
      .selectExpr("id as id_a", "id + 1 as id_b")
    val labels = Dedup.connectedComponents(chain, maxIter = 12,
      failOnNonConvergence = true)
    val comps = labels.select("component").distinct().collect().map(_.getLong(0))
    assert(comps.toSeq === Seq(0L)) // one component rooted at the min id
    assert(labels.count() === 1000)
    assert(labels.filter(col("id") === 999 && col("component") === 0).count() === 1)
  }

  test("connected components: self-loops and singleton pairs keep their labels") {
    import graft.ops.Dedup
    val pairs = Seq((1L, 1L), (5L, 7L), (7L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, failOnNonConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 7L -> 3L))
  }

  test("connected components: two mixed clusters with shared-boundary ids") {
    import graft.ops.Dedup
    val pairs = Seq((10L, 2L), (2L, 8L), (20L, 15L), (15L, 30L), (30L, 21L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, failOnNonConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(2L -> 2L, 8L -> 2L, 10L -> 2L,
      15L -> 15L, 20L -> 15L, 21L -> 15L, 30L -> 15L))
  }

  // ---------------------------------------------------------------------
  // batched IVF search
  // ---------------------------------------------------------------------

  test("batched IVF search: exhaustive probes equal brute-force top-k per query") {
    import graft.ops.{Ivf, Similarity}
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ivf.train(embs, "embedding", nlist = 4, iters = 1)
    val queries = embs.filter(col("vec_id") < 2).select(col("vec_id").as("qid"), col("embedding"))
    val corpus = Ivf.index(embs.filter(col("vec_id") >= 2), "embedding", model)
    val got = Ivf.searchTopKBatch(corpus, "embedding", "vec_id", model,
      queries, "embedding", "qid", k = 3, nprobe = 4,
      score = (a, b) => Similarity.quantizedDot(a, b))
      .select("query_id", "vec_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force reference: per query, top-3 by quantized dot
    val brute = queries.collect().flatMap { q =>
      val qid = q.getLong(0)
      embs.filter(col("vec_id") >= 2)
        .select(col("vec_id"),
          Similarity.quantizedDot(col("embedding"), typedlit(q.getSeq[Float](1))).as("dot"))
        .orderBy(desc("dot"), col("vec_id")).limit(3)
        .collect().zipWithIndex.map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.toSet
    assert(got === brute)
    assert(got.size === 6) // 2 queries x k=3
  }

  test("batched IVF search with nprobe < nlist only returns probed lists") {
    import graft.ops.Ivf
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ivf.train(embs, "embedding", nlist = 4, iters = 1)
    val queries = embs.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    val corpus = Ivf.index(embs.filter(col("vec_id") >= 3), "embedding", model)
    val rows = Ivf.searchTopKBatch(corpus, "embedding", "vec_id", model,
      queries, "embedding", "qid", k = 4, nprobe = 2).collect()
    assert(rows.nonEmpty)
    // every hit's list must be among ITS query's probe set
    val qvecs = queries.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    rows.foreach { r =>
      val probes = model.probesFor(qvecs(r.getLong(0)), 2).toSet
      assert(probes.contains(r.getInt(3)), s"row $r not in probes $probes")
    }
    // per-query result counts are <= k and ranks are 1..n
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 4)
      assert(rs.map(_.getInt(4)).sorted.toSeq === (1 to rs.length))
    }
  }

  // ---------------------------------------------------------------------
  // review-pass fixes
  // ---------------------------------------------------------------------

  test("sampling works on frames containing MapType columns") {
    // regression: the null-key row-hash must skip map columns (Spark forbids
    // hashing MapType) — sampling a frame with metadata maps used to throw
    val df = Seq(
      ("a", Map("k" -> 1)), ("b", Map("k" -> 2)), (null: String, Map("k" -> 3)))
      .toDF("key", "meta")
    val sampled = graft.ops.Sampling.deterministicSample(df, "key", 0.5)
    assert(sampled.count() <= 3) // analysis + execution succeed
    val (tr, te) = graft.ops.Sampling.trainTestSplit(df, "key", 0.5)
    assert(tr.count() + te.count() === 3)
  }

  test("null-key rows differing only in null PATTERN gate apart") {
    val df = Seq(
      (null: String, Option(1), Option.empty[Int]),
      (null: String, Option.empty[Int], Option(1)))
      .toDF("key", "a", "b")
    // xxhash64 skips nulls, so without null-flag inputs these two rows would
    // hash identically; with them they may land on different split sides.
    // Assert determinism and that the two rows are NOT forced together:
    val g1 = graft.ops.Sampling.deterministicSample(df, "key", 0.5).count()
    val g2 = graft.ops.Sampling.deterministicSample(df, "key", 0.5).count()
    assert(g1 === g2) // deterministic
    // rows hash differently: across salts they cannot ALWAYS move as a pair
    val together = (0L to 20L).forall { s =>
      val n = graft.ops.Sampling.deterministicSample(df, "key", 0.5, salt = s).count()
      n == 0 || n == 2
    }
    assert(!together, "null-pattern rows always moved together across 21 salts")
  }

  test("contains:false and disjoint enum/const keep the null-passes stance") {
    val df = Seq(("a", Seq(1)), ("b", null: Seq[Int])).toDF("doc_id", "xs")
    val s = parseOk("""{"properties":{"xs":{"contains":false}}}""")
    val c = s.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    // non-null array fails, NULL array passes (value constraints pass null)
    assert(df.filter(!c.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSeq === Seq("a"))
    val df2 = Seq(("1", "x"), ("2", null: String)).toDF("doc_id", "s")
    val s2 = parseOk("""{"properties":{"s":{"enum":["a"],"const":"b"}}}""")
    val c2 = s2.compile(df2.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(c2.run(df2).violations.select("doc_id").as[String].collect().toSeq === Seq("1"))
    // literally empty enum = invalid draft-07 = compile error
    assert(JsonSchema.parse("""{"properties":{"s":{"enum":[]}}}""", "doc_id").isLeft)
  }

  test("contains const with sibling keywords applies conjointly") {
    val df = Seq(("a", Seq(5, 20)), ("b", Seq(5))).toDF("doc_id", "xs")
    // element must equal 5 AND be >= 10: unsatisfiable -> both rows fail
    val s = parseOk("""{"properties":{"xs":{"contains":{"const":5,"minimum":10}}}}""")
    val c = s.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(df.filter(!c.rowChecks.map(_.pred).reduce(_ && _)).count() === 2)
    // element must equal 20 AND be >= 10: row a passes
    val s2 = parseOk("""{"properties":{"xs":{"contains":{"const":20,"minimum":10}}}}""")
    val c2 = s2.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(df.filter(!c2.rowChecks.map(_.pred).reduce(_ && _))
      .select("doc_id").as[String].collect().toSeq === Seq("b"))
  }

  test("contains schema type mismatches are compile errors, not silent misses") {
    val dfInt = Seq(("a", Seq(1))).toDF("doc_id", "xs")
    // numeric + string keywords mixed: no element type satisfies both
    val mixed = parseOk("""{"properties":{"xs":{"contains":{"minimum":3,"pattern":"3"}}}}""")
    assert(mixed.compile(dfInt.schema).isLeft)
    // string enum against an int array would never match
    val strEnum = parseOk("""{"properties":{"xs":{"contains":{"enum":["a"]}}}}""")
    assert(strEnum.compile(dfInt.schema).isLeft)
    // matching enum type compiles
    val intEnum = parseOk("""{"properties":{"xs":{"contains":{"enum":[1,2]}}}}""")
    assert(intEnum.compile(dfInt.schema).isRight)
  }

  test("batched IVF search keeps the score type on an empty query batch") {
    import graft.ops.{Ivf, Similarity}
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Ivf.Model(Array(Array(0.0, 0.0), Array(1.0, 1.0)))
    val corpus = Ivf.index(embs, "embedding", model)
    val noQueries = embs.filter(col("vec_id") < 0).select(col("vec_id").as("qid"), col("embedding"))
    val out = Ivf.searchTopKBatch(corpus, "embedding", "vec_id", model,
      noQueries, "embedding", "qid", k = 3, nprobe = 1,
      score = (a, b) => Similarity.quantizedDot(a, b))
    assert(out.count() === 0)
    // quantizedDot scores are LongType — the empty batch must agree so
    // per-batch unions don't diverge
    assert(out.schema("score").dataType === org.apache.spark.sql.types.LongType)
  }

  test("false property schema: IsNull at property position, Never under combinators") {
    val df = Seq(("1", "x"), ("2", null: String)).toDF("doc_id", "s")
    // property position: "s must not be present" — null passes
    val sTop = parseOk("""{"properties":{"s":false}}""")
    val cTop = sTop.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(cTop.run(df).violations.select("doc_id").as[String].collect().toSeq === Seq("1"))
    // not:false = always valid — every row passes, including null
    val sNot = parseOk("""{"properties":{"s":{"not":false}}}""")
    val cNot = sNot.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(cNot.run(df).violations.count() === 0)
    // oneOf:[false, S] = S — the null row must NOT double-count
    val sOne = parseOk("""{"properties":{"s":{"oneOf":[false, {"pattern":"^x$"}]}}}""")
    val cOne = sOne.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(cOne.run(df).violations.count() === 0)
  }

  test("contains.const of boolean works; null/array consts are compile errors") {
    val dfB = Seq(("a", Seq(true, false)), ("b", Seq(false))).toDF("doc_id", "xs")
    val sB = parseOk("""{"properties":{"xs":{"contains":{"const":true}}}}""")
    val cB = sB.compile(dfB.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(cB.run(dfB).violations.select("doc_id").as[String].collect().toSeq === Seq("b"))
    assert(JsonSchema.parse("""{"properties":{"xs":{"contains":{"const":null}}}}""", "doc_id").isLeft)
    assert(JsonSchema.parse("""{"properties":{"xs":{"contains":{"const":[1]}}}}""", "doc_id").isLeft)
  }

  test("null-key rows differing only in MAP columns gate independently") {
    val df = Seq(
      (null: String, Map("a" -> 1)),
      (null: String, Map("b" -> 2)),
      (null: String, Map("a" -> 1, "b" -> 2)))
      .toDF("key", "meta")
    // map columns hash via key-sorted entries: the three rows must not be
    // forced onto the same side of every split
    val together = (0L to 20L).forall { s =>
      val n = graft.ops.Sampling.deterministicSample(df, "key", 0.5, salt = s).count()
      n == 0 || n == 3
    }
    assert(!together, "map-differing null-key rows always moved together across 21 salts")
  }

  test("weighted sampling keeps ~weight fraction per row, deterministically") {
    import graft.ops.Sampling
    val df = spark.range(0, 4000).selectExpr("cast(id as string) as key",
      "CASE WHEN id % 2 = 0 THEN 0.9 ELSE 0.1 END as w")
    val kept = Sampling.weightedSample(df, "key", "w")
    val hi = kept.filter(col("w") > 0.5).count() // 2000 rows at p=0.9
    val lo = kept.filter(col("w") < 0.5).count() // 2000 rows at p=0.1
    assert(hi > 1650 && hi < 1950, s"hi=$hi")
    assert(lo > 120 && lo < 300, s"lo=$lo")
    // reproducible + null weights drop
    assert(Sampling.weightedSample(df, "key", "w").count() === kept.count())
    val withNull = df.withColumn("w", when(col("key") === "0", lit(null)).otherwise(col("w")))
    assert(!Sampling.weightedSample(withNull, "key", "w")
      .select("key").as[String].collect().contains("0"))
  }

  test("deterministic shuffle: epoch-stable, parallelism-independent order") {
    import graft.ops.Sampling
    val df = spark.range(0, 1000).selectExpr("cast(id as string) as key", "id as payload")
    val e1 = Sampling.deterministicShuffle(df, "key", epoch = 1)
      .select("key").as[String].collect().toSeq
    val e1again = Sampling.deterministicShuffle(df.repartition(7), "key", epoch = 1)
      .select("key").as[String].collect().toSeq
    val e2 = Sampling.deterministicShuffle(df, "key", epoch = 2)
      .select("key").as[String].collect().toSeq
    assert(e1 === e1again) // identical at any input partitioning
    assert(e1 !== e2) // epochs reorder
    assert(e1.sorted === e2.sorted) // same rows, different order
    assert(e1 !== e1.sorted) // actually shuffled, not key order
  }

  test("weightedSample drops NaN weights; shuffle/packing stable under duplicate keys") {
    import graft.ops.{Packing, Sampling}
    // NaN weight = unknown = drop (Spark's NaN-is-largest would clamp to 1.0)
    val dfNan = spark.range(0, 100).selectExpr("cast(id as string) as key",
      "CASE WHEN id < 50 THEN cast('NaN' as double) ELSE 1.0 END as w")
    assert(Sampling.weightedSample(dfNan, "key", "w").count() === 50)
    // duplicate keys with DIFFERENT payloads: order still reproducible
    val dup = spark.range(0, 500)
      .selectExpr("cast(id % 100 as string) as key", "id as payload") // 5 rows per key
    val o1 = Sampling.deterministicShuffle(dup, "key", epoch = 3)
      .select("payload").as[Long].collect().toSeq
    val o2 = Sampling.deterministicShuffle(dup.repartition(9), "key", epoch = 3)
      .select("payload").as[Long].collect().toSeq
    assert(o1 === o2)
    // duplicate ids with different token payloads: pack membership stable
    val dupToks = spark.range(0, 400).selectExpr(
      "cast(id % 50 as string) as doc_id",
      "transform(sequence(0, cast(id % 7 + 1 as int)), x -> cast(x + id as int)) as tokens")
    val p1 = Packing.packSequences(dupToks, "tokens", "doc_id", context = 64, buckets = 4)
      .collect().map(p => (p.pack_id, p.tokens)).toSet
    val p2 = Packing.packSequences(dupToks.repartition(11), "tokens", "doc_id",
      context = 64, buckets = 4)
      .collect().map(p => (p.pack_id, p.tokens)).toSet
    assert(p1 === p2)
    // pack ids unique even with heavy id duplication
    val idList = Packing.packSequences(dupToks, "tokens", "doc_id", context = 64, buckets = 4)
      .collect().map(_.pack_id)
    assert(idList.distinct.length === idList.length)
  }

  test("root dependencies: boolean forms") {
    val df = Seq(("a", "x"), ("b", null: String)).toDF("doc_id", "flag")
    // flag:false dependency = "flag must not be present (non-null)"
    val s = parseOk(
      """{"properties":{"doc_id":{"type":"string"}},"dependencies":{"flag":false}}""")
    val c = s.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(c.run(df).violations.select("doc_id").as[String].collect().toSeq === Seq("a"))
    // flag:true dependency = no constraint
    val sT = parseOk(
      """{"properties":{"doc_id":{"type":"string"}},"dependencies":{"flag":true}}""")
    val cT = sT.compile(df.schema).fold(es => fail(es.map(_.msg).mkString("; ")), identity)
    assert(cT.run(df).violations.count() === 0)
  }

  // ---------------------------------------------------------------------
  // chunking + packing
  // ---------------------------------------------------------------------

  test("chunkLongSequences splits into <=context chunks preserving tokens") {
    import graft.ops.Packing
    val df = Seq(
      ("a", (1 to 70).toSeq), // 70 tokens -> 32+32+6
      ("b", (1 to 10).toSeq), // passthrough chunk 0
      ("c", Seq.empty[Int]), // dropped
      ("d", null: Seq[Int])) // dropped
      .toDF("doc_id", "tokens")
    val chunks = Packing.chunkLongSequences(df, "tokens", "doc_id", context = 32)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Int](2).toSeq))
    assert(chunks.count(_._1 == "a") === 3)
    assert(chunks.filter(_._1 == "a").sortBy(_._2).flatMap(_._3).toSeq === (1 to 70).toSeq)
    assert(chunks.filter(_._1 == "a").forall(_._3.length <= 32))
    assert(chunks.count(_._1 == "b") === 1)
    assert(!chunks.exists(c => c._1 == "c" || c._1 == "d"))
  }

  test("packSequences: bounded packs, every doc once, parallelism-stable") {
    import graft.ops.Packing
    val corpus = DataGen.sequences(spark, 3000, maxLen = 32)
      .filter(col("doc_id").isNotNull).select("doc_id", "tokens")
    val context = 128
    val packs = Packing.packSequences(corpus, "tokens", "doc_id", context,
      buckets = 16, sep = Some(0)).collect()
    // every pack within budget, token accounting exact
    assert(packs.forall(_.n_tok <= context))
    assert(packs.forall(p => p.tokens.length == p.n_tok))
    val docsInPacks = packs.flatMap(_.doc_ids)
    val inputDocs = corpus.select("doc_id").as[String].collect()
    assert(docsInPacks.sorted.toSeq === inputDocs.sorted.toSeq) // exactly once each
    // token totals: input tokens + one separator between docs within packs
    val inputTok = corpus.select(sum(size(col("tokens")))).head().getLong(0)
    val packTok = packs.map(_.n_tok.toLong).sum
    val seps = packs.map(p => (p.n_docs - 1).toLong).sum
    assert(packTok === inputTok + seps)
    assert(packs.map(_.n_docs).max > 1) // actually packs multiple docs
    // deterministic at any input partitioning
    val again = Packing.packSequences(corpus.repartition(7), "tokens", "doc_id",
      context, buckets = 16, sep = Some(0)).collect()
    assert(again.map(p => (p.pack_id, p.doc_ids)).toSet ===
      packs.map(p => (p.pack_id, p.doc_ids)).toSet)
  }

  test("packSequences truncates over-length inputs VISIBLY") {
    import graft.ops.Packing
    val df = Seq(("big", (1 to 500).toSeq), ("small", Seq(1, 2, 3)))
      .toDF("doc_id", "tokens")
    val packs = Packing.packSequences(df, "tokens", "doc_id", context = 100,
      buckets = 2).collect()
    val big = packs.find(_.doc_ids == Seq("big")).get
    assert(big.truncated && big.n_tok === 100 && big.tokens === (1 to 100).toSeq)
    val small = packs.find(_.doc_ids.contains("small")).get
    assert(!small.truncated)
    // chunk-then-pack leaves nothing truncated
    val chunked = Packing.chunkLongSequences(df, "tokens", "doc_id", 100)
      .withColumn("cid", concat(col("doc_id"), lit("#"), col("chunk_idx")))
    val packs2 = Packing.packSequences(chunked, "tokens", "cid", context = 100,
      buckets = 2).collect()
    assert(packs2.forall(!_.truncated))
    assert(packs2.flatMap(_.tokens).length === 503)
  }

  // ---------------------------------------------------------------------
  // streaming referential integrity
  // ---------------------------------------------------------------------

  test("orphanStream flags fact rows missing from the dimension, append-mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq("web", "books").toDF("source")
    val input = MemoryStream[String]
    val stream = input.toDF().withColumnRenamed("value", "source")
    val q = graft.streaming.StreamValidate.orphanStream(stream, "source", dim, "source")
      .writeStream.format("memory").queryName("orphans_out").outputMode("append").start()
    try {
      input.addData("web", "scraped-mystery", "books")
      q.processAllAvailable()
      assert(spark.sql("select source from orphans_out").as[String].collect().toSeq
        === Seq("scraped-mystery"))
      input.addData("books", "unknown2")
      q.processAllAvailable()
      assert(spark.sql("select source from orphans_out").as[String].collect().toSet
        === Set("scraped-mystery", "unknown2"))
    } finally q.stop()
  }

  // ---------------------------------------------------------------------
  // cache discipline
  // ---------------------------------------------------------------------

  test("dropNearDups releases every internal cache except the loser-id set") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = Dedup.dropNearDups(docs, "text", "doc_id",
      numHashes = 32, bands = 8, shingleK = 1, threshold = 0.7, maxBucket = 500)
    assert(result.count() > 0)
    // signature cache, verified pairs, CC vertices/edges/labels: all released;
    // only the eagerly-materialized loser-id checkpoint backs the result
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.size <= 1, s"leaked cached RDDs: $added")
  }

  test("dropEmbeddingNearDups releases its LSH cache too") {
    import graft.ops.Dedup
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = Dedup.dropEmbeddingNearDups(embs, "embedding", "vec_id", threshold = 0.95)
    assert(result.count() > 0)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.size <= 1, s"leaked cached RDDs: $added")
  }

  // ---------------------------------------------------------------------
  // null-key sampling
  // ---------------------------------------------------------------------

  test("sampling: null-key rows split by fraction instead of clumping") {
    import graft.ops.Sampling
    val df = spark.range(0, 2000)
      .selectExpr("CASE WHEN id % 2 = 0 THEN cast(id as string) END as key", "id as payload")
    val sampled = Sampling.deterministicSample(df, "key", 0.5)
    val nullKept = sampled.filter(col("key").isNull).count()
    // 1000 null-key rows at fraction 0.5: all-or-nothing would give 0 or
    // 1000; independent gating lands near 500 (binomial, p<<1e-9 outside)
    assert(nullKept > 350 && nullKept < 650, s"nullKept=$nullKept")
    // split stays disjoint + exhaustive for null-key rows
    val (train, test) = Sampling.trainTestSplit(df, "key", 0.3)
    assert(train.count() + test.count() === 2000)
    assert(train.intersect(test).count() === 0)
    // determinism: same call, same rows
    val again = Sampling.deterministicSample(df, "key", 0.5).filter(col("key").isNull).count()
    assert(again === nullKept)
  }

  // ---------------------------------------------------------------------
  // pattern redaction
  // ---------------------------------------------------------------------

  test("redact: PII rules scrub email before phone/number, ordered") {
    import graft.ops.TextAnalysis
    val df = Seq(
      ("a", "mail me at jo.doe+x@ex-ample.co.uk or call +1 (555) 123-4567"),
      ("b", "account 123456789 balance 42"), // long run redacted, short kept
      ("c", "no pii here"),
      ("d", null: String))
      .toDF("doc_id", "text")
    val out = df
      .select(col("doc_id"), TextAnalysis.redact(col("text"), TextAnalysis.piiRules).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") === "mail me at <EMAIL> or call <PHONE>")
    assert(out("b") === "account <NUM> balance 42")
    assert(out("c") === "no pii here")
    assert(out("d") === null) // null text stays null, not "<...>"
    // matchCount audits the same pattern the redaction consumes
    val n = df.select(TextAnalysis.matchCount(col("text"), "[0-9]{6,}").as("n"))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(n.toSeq === Seq(0, 1, 0, -1))
  }

  // ---------------------------------------------------------------------
  // repetition stats (Gopher signals)
  // ---------------------------------------------------------------------

  test("repetitionStats: hand-computed line/ngram signals and the gate") {
    import graft.ops.TextAnalysis
    val df = Seq(
      ("a", "aa bb aa bb aa\ncc dd\ncc dd"), // dup lines + repeated bigrams
      ("b", "hello world\nthis is fine"),    // clean but tiny
      ("c", ""),                              // empty: all zero, gate fails
      ("d", null: String))                    // null text -> null row
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(df, "text").collect()
      .map(r => r.getString(0) -> r).toMap
    def longs(id: String): Seq[Long] = (1 to 11).map(out(id).getLong(_))
    // n_lines, dup_lines, dup_line_chars, line_chars, n_words, word_chars,
    // top2, top3, top4, dup5_cov, dup10_cov
    assert(longs("a") === Seq(3, 2, 10, 24, 9, 18, 10, 16, 11, 0, 0))
    assert(out("a").getBoolean(12) === false) // 2/3 dup lines > 0.30
    assert(longs("b") === Seq(2, 0, 0, 23, 5, 20, 11, 16, 19, 0, 0))
    assert(out("b").getBoolean(12) === false) // tiny doc: top-2 frac > 0.20
    assert(longs("c") === Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    assert(out("c").getBoolean(12) === false) // no words -> fail
    assert(out("d").isNullAt(1) && out("d").isNullAt(12))
    // a genuinely clean (long, repetition-free) document passes; note the
    // gate is calibrated for real web-doc lengths — a 20-word paragraph
    // "fails" top-3 because one 20-char trigram is >18% of its chars
    val clean = Seq(("ok", (1 to 60).map(i => f"word$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val g = TextAnalysis.repetitionProfile(clean, "text").collect()(0)
    assert(g.getBoolean(12) === true)
  }

  test("UnigramLM: hand-computed fixed-point likelihoods and the gate") {
    import graft.ops.UnigramLM
    // corpus: a:3 b:2 c:1, total 6; V=2 keeps {a:3, b:2}, c is OOV (count 1)
    val df = Seq(("d1", "A a b"), ("d2", "a c!"), ("d3", "b"), ("d4", "   "))
      .toDF("doc_id", "text")
    val m = UnigramLM.train(df, "text", vocabSize = 2)
    assert(m.totalTokens === 6 && m.vocab === Map("a" -> 3L, "b" -> 2L))
    val fpA = math.round(math.log(3.0 / 6) * 1e6) // -693147
    val fpB = math.round(math.log(2.0 / 6) * 1e6) // -1098612
    val fpOov = math.round(math.log(1.0 / 6) * 1e6) // -1791759
    val got = UnigramLM.score(df, "text", m).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got("d1") === (2 * fpA + fpB, 3L))
    assert(got("d2") === (fpA + fpOov, 2L))
    assert(got("d3") === (fpB, 1L))
    assert(got("d4") === (0L, 0L)) // tokenless: scores zero, gate drops it
    // avg-likelihood gate: d3's avg (-1.0986) clears -1.5; d2's (-1.2424)
    // clears it too; threshold -1.0 keeps only d1? d1 avg = -0.8283 -> yes
    val kept = UnigramLM.likelihoodGate(df, "text", m, minAvgFp = -1000000L)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(kept === Set("d1"))
  }

  test("balanceToMix: proportions hit targets, infeasible mix is empty") {
    import graft.ops.Sampling
    // 800 en / 100 fr / 100 de / 200 es; targets 50/25/25 → T limited by
    // fr (100/0.25 = 400): expect ≈200 en, all 100 fr, all 100 de, 0 es
    val df = spark.range(0, 1200).selectExpr("id AS doc_id",
      """CASE WHEN id < 800 THEN 'en' WHEN id < 900 THEN 'fr'
              WHEN id < 1000 THEN 'de' ELSE 'es' END AS lang""")
    val out = Sampling.balanceToMix(df, "lang", "doc_id",
      Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("es", 0L) === 0L) // not in mixture -> dropped
    assert(byLang("fr") === 100L && byLang("de") === 100L) // binding strata keep all
    assert(byLang("en") > 150 && byLang("en") < 250, s"en=${byLang("en")}") // ~200 binomial
    // determinism across repartitioning
    val again = Sampling.balanceToMix(df.repartition(7), "lang", "doc_id",
      Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === out.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a target stratum with zero rows -> infeasible -> empty, never skewed
    val infeasible = Sampling.balanceToMix(df, "lang", "doc_id",
      Map("en" -> 0.5, "zz" -> 0.5))
    assert(infeasible.count() === 0)
  }

  test("firstSeenStream: keep-first dedup across batches, min-id within batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc_id", "sig")
    val q = graft.streaming.StreamValidate.firstSeenStream(stream, "sig", "doc_id")
      .writeStream.format("memory").queryName("first_seen").outputMode("update").start()
    try {
      input.addData(("d3", "A"), ("d1", "A"), ("d2", "B"))
      q.processAllAvailable() // in-batch dup of A: min doc_id d1 wins
      val b1 = spark.sql("select doc_id from first_seen").collect().map(_.getString(0)).toSet
      assert(b1 === Set("d1", "d2"))
      input.addData(("d9", "A"), ("d4", "C"))
      q.processAllAvailable() // A already seen (cross-batch) -> only C emits
      val b2 = spark.sql("select doc_id from first_seen").collect().map(_.getString(0)).toSet
      assert(b2 === Set("d1", "d2", "d4"))
    } finally q.stop()
  }

  test("filterWithAudit: first-failing attribution, null rejects, zero-fill") {
    import graft.ops.Pipeline
    val df = Seq(
      ("a", 10, "x"),   // fails s1
      ("b", 100, null), // passes s1, null s2 -> charged to s2
      ("c", 100, "x"),  // passes all
      ("d", 5, null))   // fails s1 AND s2 -> charged to s1 (first)
      .toDF("id", "n", "tag")
    val (kept, audit) = Pipeline.filterWithAudit(df, Seq(
      "big_enough" -> (col("n") >= 50),
      "tagged" -> col("tag").isNotNull,
      "never_fires" -> lit(true)))
    assert(kept.select("id").collect().map(_.getString(0)).toSeq === Seq("c"))
    val rows = audit.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows === Set(
      ("big_enough", 0, 2L), ("tagged", 1, 1L), ("never_fires", 2, 0L), ("kept", 3, 1L)))
    intercept[IllegalArgumentException] {
      Pipeline.filterWithAudit(df, Seq("kept" -> lit(true)))
    }
    intercept[IllegalArgumentException] {
      Pipeline.filterWithAudit(df, Seq("x" -> lit(true), "x" -> lit(false)))
    }
  }

  test("balanceToMix: binding stratum keeps gate-999999 rows (no trunc drop)") {
    import graft.ops.Sampling
    // find ids whose mix-gate is EXACTLY the truncation boundary: with
    // non-dyadic shares the binding stratum's cut would round to 999999 and
    // silently drop them unless frac is pinned to 1.0
    val pool = spark.range(0, 20000000).toDF("doc_id")
    val edgeIds = pool
      .filter(Sampling.auditGate(pool, "doc_id", "mix") === 999999)
      .collect().map(_.getLong(0)).take(20)
    assert(edgeIds.nonEmpty, "no gate-999999 ids in 20M — widen the scan")
    val aIds = edgeIds ++ (0L until 100L).filterNot(edgeIds.contains)
    val df = aIds.toSeq.toDF("doc_id").withColumn("s", lit("a"))
      .union(spark.range(10000000, 10010000).toDF("doc_id").withColumn("s", lit("b")))
    // a is binding: n_a/0.7 << n_b/0.3 -> every 'a' row must survive
    val kept = Sampling.balanceToMix(df, "s", "doc_id", Map("a" -> 0.7, "b" -> 0.3))
      .filter(col("s") === "a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === aIds.toSet, s"binding stratum dropped ${aIds.toSet -- kept}")
  }

  test("repetitionStats: code-point counting and simple-lowercase tokens") {
    import graft.ops.TextAnalysis
    val df = Seq(
      ("emoji", "😀😀\n😀😀"), // 2 identical 2-cp lines
      ("kelvin", "KK x")) // U+212A simple-lowercases to ASCII k
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(df, "text").collect()
      .map(r => r.getString(0) -> (1 to 11).map(r.getLong(_))).toMap
    // n_lines, dup_lines, dup_line_chars, line_chars (CODE POINTS, not
    // UTF-16 units: 4 not 8), n_words, word_chars, ...
    assert(out("emoji") === Seq(2, 2, 4, 4, 0, 0, 0, 0, 0, 0, 0))
    // "KK" is one run lowercasing to "kk"; words: kk, x
    assert(out("kelvin").slice(4, 6) === Seq(2, 3))
  }

  test("tfidfTopTerms: hand-computed fixed-point scores, deterministic ties") {
    import graft.ops.TextAnalysis
    // N=3: "cat" df=3 (idf ln(4/4)=0), "dog" df=2 (ln(4/3)), "emu" df=1 (ln 2)
    val df = Seq(
      ("d1", "cat cat dog emu"),
      ("d2", "cat dog dog"),
      ("d3", "cat"),
      ("d4", null: String))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "text", "doc_id", 2).collect()
      .map(r => (r.getString(0), r.getInt(5)) ->
        (r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    val idfDog = math.round(math.log(4.0 / 3.0) * 1e6)
    val idfEmu = math.round(math.log(4.0 / 2.0) * 1e6)
    assert(out(("d1", 1)) === ("emu", 1, 1L, idfEmu)) // 1*ln2 beats 1*ln(4/3)
    assert(out(("d1", 2)) === ("dog", 1, 2L, idfDog))
    assert(out(("d2", 1)) === ("dog", 2, 2L, 2 * idfDog))
    assert(out(("d2", 2)) === ("cat", 1, 3L, 0L))
    assert(out(("d3", 1)) === ("cat", 1, 3L, 0L)) // score 0 still ranked
    assert(!out.keySet.exists(_._1 == "d4")) // null text -> absent
  }

  test("BigramLM: interpolated scores, first-token unigram, OOV fallbacks") {
    import graft.ops.UnigramLM
    // uni a:3 b:2 c:1 (N=6); bigrams a-b:2, a-c:1
    val df = Seq(("d1", "a b"), ("d2", "a b"), ("d3", "a c")).toDF("doc_id", "text")
    val m = UnigramLM.trainBigram(df, "text", vocabSize = 3, bigramSize = 2)
    assert(m.unigrams === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(m.bigrams === Map("a\u0001b" -> 2L, "a\u0001c" -> 1L))
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    val first = fp(3.0 / 6) // ln p(a)
    val ab = fp(0.5 * (2.0 / 3) + 0.5 * (2.0 / 6))
    val ac = fp(0.5 * (1.0 / 3) + 0.5 * (1.0 / 6))
    val got = UnigramLM.scoreBigram(df, "text", m).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got("d1") === (first + ab, 2L))
    assert(got("d3") === (first + ac, 2L))
    // OOV doc: "z z" -> first ln(1/6); prev z is OOV -> unigram BACKOFF
    // ln(1/6) again (never a fabricated /1 denominator, which would let a
    // top-B bigram with an OOV head score p > 1)
    val oov = UnigramLM.scoreBigram(Seq(("x", "z z")).toDF("doc_id", "text"), "text", m)
      .collect()(0)
    assert(oov.getLong(2) === 2 * fp(1.0 / 6))
    // bigram in top-B whose HEAD misses the tiny unigram vocab: backoff,
    // and in particular the score stays NEGATIVE
    val m1 = UnigramLM.trainBigram(df, "text", vocabSize = 1, bigramSize = 2)
    assert(m1.unigrams === Map("a" -> 3L))
    val headOov = UnigramLM
      .scoreBigram(Seq(("y", "c a")).toDF("doc_id", "text"), "text", m1)
      .collect()(0)
    assert(headOov.getLong(2) === fp(1.0 / 6) + fp(3.0 / 6))
    assert(headOov.getLong(2) < 0)
  }

  test("JsonCorpus: explicit-schema parse with corrupt-line capture") {
    import graft.sources.JsonCorpus
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl_test")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello"}""",
      """{"doc_id": "NOT_A_NUMBER", "text": "bad type"}""", // type mismatch
      """{this is not json at all""", // malformed
      "\t  ", // whitespace-only: JSON reader skips it; must NOT count corrupt
      """{"doc_id": 3, "text": null}""")
    java.nio.file.Files.write(dir.resolve("part-0.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (valid, corrupt) = JsonCorpus.readSplit(spark, dir.toString, schema)
    assert(valid.count() === 2) // count() must not trip the corrupt-column
    // pruning restriction (DROPMALFORMED valid side)
    val ok = valid.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0)) -> (if (r.isNullAt(1)) null else r.getString(1)))
    assert(ok.toSet === Set(1L -> "hello", 3L -> null))
    assert(corrupt.count() === 2) // bad type + malformed; tab-only line skipped
    // schema already containing the corrupt column is rejected loudly
    intercept[IllegalArgumentException] {
      JsonCorpus.read(spark, dir.toString, schema.add("_corrupt", StringType))
    }
  }

  test("gopherQualityFeatures: typography signals and the quality gate") {
    import graft.ops.TextAnalysis
    val listDoc = "- first point\n- second point...\nplain line"
    val clean = "The cats and dogs have run to the park with joy. " +
      (1 to 45).map(i => s"word$i").mkString(" ")
    val df = Seq(("lst", listDoc), ("ok", clean)).toDF("doc_id", "text")
    val feats = TextAnalysis.gopherQualityFeatures(col("text"))
    val out = df.select((col("doc_id") +: feats.map { case (n, c) => c.as(n) }) :+
        TextAnalysis.gopherQualityPass(col("text")).as("p"): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    val l = out("lst")
    // 8 \S+ tokens (35 non-ws chars, 6 with letters — the two bare "-"
    // don't count); 3 lines; 2 bullet lines; 1 ellipsis-ending line; zero
    // '#' symbols; one "..." ellipsis (per-symbol counts — the published
    // rule gates each symbol's ratio separately); no stopwords from the list
    assert((1 to 9).map(l.getInt(_)) === Seq(8, 35, 6, 3, 2, 1, 0, 1, 0))
    assert(l.getBoolean(10) === false) // <50 words + bullets + no stopwords
    val c = out("ok")
    assert(c.getInt(1) === 56 && c.getInt(9) >= 4) // the/and/have/to/with
    assert(c.getBoolean(10) === true)
    // engine-parity semantics: \r is NOT a line terminator ((?d) UNIX_LINES,
    // matching RE2's \n-only multiline), \x0B IS whitespace (explicit class)
    val odd = Seq(("cr", "- a\rb\nplain"), ("vt", "x\u000by"))
      .toDF("doc_id", "text")
    val o2 = odd.select((col("doc_id") +: feats.map { case (n, cc) => cc.as(n) }): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(o2("cr").getInt(4) === 2) // "- a\rb" + "plain", not 3
    assert(o2("cr").getInt(5) === 1) // only the first line is a bullet line
    assert(o2("vt").getInt(1) === 2) // \x0B separates words
  }

  test("capStrataExact: exactly k per over-cap stratum, repartition-stable") {
    import graft.ops.Sampling
    val df = spark.range(0, 1000).selectExpr("id AS doc_id",
      "CASE WHEN id % 10 = 0 THEN 'rare' ELSE 'hot' END AS s")
    val out = Sampling.capStrataExact(df, "s", "doc_id", maxRows = 50)
    val byS = out.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("hot") === 50L) // 900 rows capped to EXACTLY 50
    assert(byS("rare") === 50L) // 100 rows also above cap
    val under = Sampling.capStrataExact(df, "s", "doc_id", maxRows = 5000)
    assert(under.count() === 1000) // under-cap strata untouched
    val again = Sampling.capStrataExact(df.repartition(7), "s", "doc_id", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === out.select("doc_id").collect().map(_.getLong(0)).toSet)
    // DUPLICATE keys (the planted-duplicate-id trap): membership must stay
    // a pure function of row content, not shuffle arrival — the full-row
    // hash tie-break makes boundary picks repartition-stable
    val dups = spark.range(0, 400).selectExpr(
      "id % 200 AS doc_id", "concat('p', id) AS payload", "'one' AS s")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.capStrataExact(d, "s", "doc_id", 150)
        .select("payload").collect().map(_.getString(0)).toSet
    val a = run(dups.repartition(3))
    assert(a.size === 150)
    assert(a === run(dups.repartition(17)) && a === run(dups.repartition(64)))
  }

  test("CsvCorpus: explicit-schema parse with corrupt-line capture") {
    import graft.sources.CsvCorpus
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("csv_test")
    java.nio.file.Files.write(dir.resolve("part-0.csv"), String.join("\n",
      "1,alpha",
      "oops,beta", // doc_id type mismatch
      "3,gamma,EXTRA_COLUMN", // wrong arity
      "4,delta").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("name", StringType)))
    val (valid, corrupt) = CsvCorpus.readSplit(spark, dir.toString, schema)
    assert(valid.count() === 2) // count() safe on the DROPMALFORMED side
    val ok = valid.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1))
    assert(ok.toSet === Set(1L -> "alpha", 4L -> "delta"))
    assert(corrupt.count() === 2)
    // header=true: each file's first line leaves BOTH sides; blank and
    // whitespace-only lines are reader-skipped, never counted corrupt
    val hdir = java.nio.file.Files.createTempDirectory("csv_hdr")
    java.nio.file.Files.write(hdir.resolve("a.csv"), String.join("\n",
      "doc_id,name", "1,alpha", "", "  ", "bad,row,extra").getBytes("UTF-8"))
    java.nio.file.Files.write(hdir.resolve("b.csv"), String.join("\n",
      "doc_id,name", "7,eta").getBytes("UTF-8"))
    val (hv, hc) = CsvCorpus.readSplit(spark, hdir.toString, schema, header = true)
    assert(hv.collect().map(_.getLong(0)).toSet === Set(1L, 7L))
    assert(hc.collect().map(_.getString(0)).toSeq === Seq("bad,row,extra"))
  }

  test("streaming E2E: file-source JSONL -> violations + keep-first dedup") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl_stream")
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("n_tok", LongType),
      StructField("sig", StringType)))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", lines: _*).getBytes("UTF-8"))
    writeFile("b1.json", Seq(
      """{"doc_id":"d1","n_tok":10,"sig":"A"}""",
      """{"doc_id":"d2","n_tok":-5,"sig":"B"}""")) // n_tok out of range
    val stream = spark.readStream.schema(schema).json(dir.toString)
    val suite = ConstraintSuite("doc_id", Seq(NonNull("doc_id"), Range("n_tok", 1, 100)))
    val compiled = suite.compile(schema).toOption.get
    val vioQ = graft.streaming.StreamValidate.violationsStream(compiled, stream)
      .writeStream.format("memory").queryName("file_vios").outputMode("append").start()
    val dedupQ = graft.streaming.StreamValidate.firstSeenStream(stream, "sig", "doc_id")
      .writeStream.format("memory").queryName("file_dedup").outputMode("update").start()
    try {
      vioQ.processAllAvailable(); dedupQ.processAllAvailable()
      assert(spark.sql("select doc_id from file_vios").collect()
        .map(_.getString(0)).toSeq === Seq("d2"))
      // batch 2 arrives as a NEW FILE: cross-file dedup + incremental checks
      writeFile("b2.json", Seq(
        """{"doc_id":"d3","n_tok":200,"sig":"A"}""", // dup sig + out of range
        """{"doc_id":"d4","n_tok":7,"sig":"C"}"""))
      vioQ.processAllAvailable(); dedupQ.processAllAvailable()
      assert(spark.sql("select doc_id from file_vios").collect()
        .map(_.getString(0)).toSet === Set("d2", "d3"))
      assert(spark.sql("select doc_id from file_dedup").collect()
        .map(_.getString(0)).toSet === Set("d1", "d2", "d4")) // d3's sig seen
    } finally { vioQ.stop(); dedupQ.stop() }
  }

  test("repetitionStats: compiled and interpreted paths agree") {
    import graft.functions.TextFunctions.repetition_stats
    val df = Seq(
      ("x x x x x x\ny y\ny y\nz", 1),
      ("one two three two three two three four five six seven", 2),
      ("", 3)).toDF("text", "id")
    val uni = Map("x" -> 5L, "two" -> 2L)
    val bi = Map("x\u0001x" -> 3L)
    def evalAll(mode: String): Seq[String] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(concat_ws("|",
          repetition_stats(col("text")).cast("string"),
          graft.functions.TextFunctions.word_counts(col("text")).cast("string"),
          graft.functions.TextFunctions.ngram_logprob_fp(
            split(col("text"), " "), Seq(uni), 10L).cast("string"),
          graft.functions.TextFunctions.ngram_logprob_fp(
            split(col("text"), " "), Seq(uni, bi), 10L).cast("string")).as("s"))
        .collect().map(_.getString(0)).toSeq
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    val compiled = evalAll("CODEGEN_ONLY")
    assert(compiled === evalAll("NO_CODEGEN"))
    assert(compiled.head.nonEmpty)
  }
}
