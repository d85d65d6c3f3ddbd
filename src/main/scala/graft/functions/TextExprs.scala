package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Repetition statistics for quality filtering (the MassiveText/Gopher
  * repetition signals, Rae et al. 2021 §A1.1): within-document duplicate
  * lines, most-frequent word n-grams, and characters covered by duplicated
  * n-grams. One custom expression computes every signal in a single pass
  * over the text — per-document, embarrassingly parallel, ZERO shuffles, so
  * at 100 TB the filter runs at scan speed alongside the other projection
  * kernels (contrast: an explode + groupBy(doc, ngram) formulation shuffles
  * the entire tokenized corpus).
  *
  * All outputs are exact INTEGER numerators/denominators, not floats —
  * fraction thresholds apply in multiply-form (`num * 10 <= den * 3`), which
  * keeps the operator bit-exact under reordering and lets a SQL oracle
  * reproduce it verbatim. Definitions (shared with the DuckDB oracle in
  * SparkEntry):
  *
  *  - lines: '\n'-separated segments with length > 0. A line INSTANCE is
  *    "duplicate" when its exact text occurs >= 2 times in the document;
  *    numerators count all such instances. Line characters are CODE POINTS
  *    (matching SQL `length()`/`len()`), not UTF-16 units.
  *  - words: maximal runs of code points whose SIMPLE lowercase mapping is
  *    ASCII `[a-z0-9]` (matching RE2 `[a-z0-9]+` over a per-code-point
  *    `lower(text)`, e.g. U+212A KELVIN SIGN tokenizes as `k`; locale/full
  *    case mappings like U+0130 are a documented residual).
  *  - n-gram (n=2,3,4 "top"): sliding window of n words joined by single
  *    spaces; char length INCLUDES the n-1 joining spaces. `topN_chars` =
  *    occurrences * char-length of the most frequent n-gram, ties broken by
  *    (count desc, char length desc, ngram asc).
  *  - n-gram (n=5,10 "coverage"): `dupN_cov_chars` = total word characters
  *    at positions covered by at least one window whose n-gram occurs >= 2
  *    times (true span coverage, overlaps counted once — the Gopher
  *    "fraction of characters in duplicated n-grams" semantic).
  */
/** The ONE word tokenizer shared by every text kernel (RepetitionStats,
  * WordCounts) and documented as the contract of the SQL oracles: maximal
  * runs of code points whose SIMPLE lowercase mapping is ASCII `[a-z0-9]`.
  * Kept in one place so a Unicode-mapping fix can never drift between
  * kernels that promise identical tokenization. */
private[functions] object TextTok {
  def foreachWord(text: String)(f: String => Unit): Unit = {
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      val lc = Character.toLowerCase(cp)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc.toChar)
      else if (sb.length > 0) { f(sb.toString); sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) f(sb.toString)
  }
}

case class RepetitionStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = RepetitionStats.schema

  def compute(s: UTF8String): InternalRow = {
    val text = s.toString
    // ---- line stats (single scan, '\n' separators, empty lines dropped)
    val lineCounts = new java.util.HashMap[String, Int]()
    val lines = new scala.collection.mutable.ArrayBuffer[String](16)
    var start = 0
    var i = 0
    val n = text.length
    while (i <= n) {
      if (i == n || text.charAt(i) == '\n') {
        if (i > start) {
          val l = text.substring(start, i)
          lines += l
          lineCounts.merge(l, 1, Integer.sum)
        }
        start = i + 1
      }
      i += 1
    }
    var nLines = 0L; var lineChars = 0L; var dupLines = 0L; var dupLineChars = 0L
    lines.foreach { l =>
      val cp = l.codePointCount(0, l.length) // code points, like SQL length()
      nLines += 1; lineChars += cp
      if (lineCounts.get(l) >= 2) { dupLines += 1; dupLineChars += cp }
    }
    // ---- word tokenization (shared TextTok contract, surrogate-safe)
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    TextTok.foreachWord(text)(words += _)
    val w = words.length
    var wordChars = 0L
    words.foreach(wordChars += _.length)

    def windows(k: Int): Array[String] = {
      if (w < k) return Array.empty
      val out = new Array[String](w - k + 1)
      val b = new java.lang.StringBuilder(32)
      var j = 0
      while (j + k <= w) {
        b.setLength(0)
        var m = 0
        while (m < k) { if (m > 0) b.append(' '); b.append(words(j + m)); m += 1 }
        out(j) = b.toString
        j += 1
      }
      out
    }
    def topChars(k: Int): Long = {
      val win = windows(k)
      if (win.isEmpty) return 0L
      val counts = new java.util.HashMap[String, Int](win.length * 2)
      win.foreach(g => counts.merge(g, 1, Integer.sum))
      var bestG: String = null
      var bestC = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val g = e.getKey; val c = e.getValue
        val better = bestG == null || c > bestC ||
          (c == bestC && (g.length > bestG.length ||
            (g.length == bestG.length && g.compareTo(bestG) < 0)))
        if (better) { bestG = g; bestC = c }
      }
      bestC.toLong * bestG.length
    }
    def dupCoverage(k: Int): Long = {
      val win = windows(k)
      if (win.isEmpty) return 0L
      val counts = new java.util.HashMap[String, Int](win.length * 2)
      win.foreach(g => counts.merge(g, 1, Integer.sum))
      val covered = new Array[Boolean](w)
      var j = 0
      while (j < win.length) {
        if (counts.get(win(j)) >= 2) {
          var m = j
          while (m < j + k) { covered(m) = true; m += 1 }
        }
        j += 1
      }
      var chars = 0L
      j = 0
      while (j < w) { if (covered(j)) chars += words(j).length; j += 1 }
      chars
    }
    InternalRow(nLines, dupLines, dupLineChars, lineChars, w.toLong, wordChars,
      topChars(2), topChars(3), topChars(4), dupCoverage(5), dupCoverage(10))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repStats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object RepetitionStats {
  val fieldNames: Seq[String] = Seq(
    "n_lines", "dup_lines", "dup_line_chars", "line_chars",
    "n_words", "word_chars",
    "top2_chars", "top3_chars", "top4_chars",
    "dup5_cov_chars", "dup10_cov_chars")
  val schema: StructType =
    StructType(fieldNames.map(StructField(_, LongType, nullable = false)))
}

/** The Gopher repetition gate over a [[RepetitionStats]] struct as ONE
  * expression whose only child is the struct. The same gate as Column
  * algebra references the struct once per field, and `FilterExec` does no
  * subexpression elimination, so a filter on it ran the stats kernel once
  * per reference; here a `Filter` runs it once, and a `Project` that also
  * selects the flat fields shares that one evaluation. The inequalities
  * are the multiply-form MassiveText thresholds documented on
  * `TextAnalysis.gopherPass`, tested left to right with `&&` exactly as
  * the Column form's `And` chain; each product overflows the way Spark's
  * `*` does (an ARITHMETIC_OVERFLOW error under ANSI, wrapping without).
  * A null struct gives null; its fields are read as the non-null longs
  * [[RepetitionStats]] produces. */
case class GopherPass(child: Expression,
    failOnOverflow: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends UnaryExpression with ExpectsInputTypes {
  import GopherPass._
  override def inputTypes = Seq(RepetitionStats.schema)
  override def dataType: DataType = BooleanType

  private def mul(a: Long, b: Long): Long =
    if (failOnOverflow) org.apache.spark.sql.catalyst.util.MathUtils.multiplyExact(a, b)
    else a * b

  def compute(s: InternalRow): Boolean = {
    val wordChars = s.getLong(WordChars)
    s.getLong(NWords) > 0 &&
      mul(s.getLong(DupLines), 10) <= mul(s.getLong(NLines), 3) &&
      mul(s.getLong(DupLineChars), 5) <= s.getLong(LineChars) &&
      mul(s.getLong(Top2Chars), 5) <= wordChars &&
      mul(s.getLong(Top3Chars), 100) <= mul(wordChars, 18) &&
      mul(s.getLong(Top4Chars), 100) <= mul(wordChars, 16) &&
      mul(s.getLong(Dup5CovChars), 100) <= mul(wordChars, 15) &&
      mul(s.getLong(Dup10CovChars), 10) <= wordChars
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[InternalRow])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherPass", this, classOf[GopherPass].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object GopherPass {
  private def ordinal(f: String): Int = RepetitionStats.fieldNames.indexOf(f)
  private val NLines = ordinal("n_lines")
  private val DupLines = ordinal("dup_lines")
  private val DupLineChars = ordinal("dup_line_chars")
  private val LineChars = ordinal("line_chars")
  private val NWords = ordinal("n_words")
  private val WordChars = ordinal("word_chars")
  private val Top2Chars = ordinal("top2_chars")
  private val Top3Chars = ordinal("top3_chars")
  private val Top4Chars = ordinal("top4_chars")
  private val Dup5CovChars = ordinal("dup5_cov_chars")
  private val Dup10CovChars = ordinal("dup10_cov_chars")
}

/** Per-document term frequencies in ONE pass: distinct words (same
  * tokenization as [[RepetitionStats]] — simple-lowercase code points in
  * `[a-z0-9]`) with their in-document counts, sorted by term for
  * determinism. The in-row aggregation is what keeps TF computation off the
  * shuffle: an explode→groupBy(doc, term) formulation shuffles every token
  * occurrence, this shuffles nothing. */
case class WordCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))),
    containsNull = false)

  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val text = s.toString
    val counts = new java.util.TreeMap[String, Int]()
    TextTok.foreachWord(text)(w => counts.merge(w, 1, Integer.sum))
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var m = 0
    while (it.hasNext) {
      val e = it.next()
      out(m) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordCounts", this, classOf[WordCounts].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** One node of the shared n-gram count trie backing [[NgramLogProbFp]]:
  * `count` is the exact corpus count of the path's n-gram if that n-gram
  * was KEPT in its level's bounded vocabulary, or -1 when the node exists
  * only as the prefix of a longer kept n-gram (its own count fell outside
  * the top-K — "unknown", which breaks the context chain there exactly the
  * way a NULL join against that level's vocabulary does in the oracle).
  * A kept level-1 node also carries `fp`, its precomputed fixed-point
  * unigram score `round(ln(count / N) * 1e6)`, so a token with no known
  * context scores with the one lookup that finds its node. */
private[functions] final class NgramTrieNode {
  var count: Long = -1L
  var fp: Long = 0L
  var children: java.util.HashMap[UTF8String, NgramTrieNode] = null
  def child(k: UTF8String): NgramTrieNode =
    if (children == null) null else children.get(k)
  def ensureChild(k: UTF8String): NgramTrieNode = {
    if (children == null) children = new java.util.HashMap[UTF8String, NgramTrieNode]()
    var n = children.get(k)
    if (n == null) { n = new NgramTrieNode; children.put(k, n) }
    n
  }
}

/** Fixed-point interpolated ORDER-N log-likelihood — the one scoring
  * kernel of the CCNet-style quality filter (Wenzek et al. 2020) at every
  * n-gram order: order 1 is the plain unigram model, orders 2 and 3 the
  * interpolated bigram and trigram models, order 5 the published CCNet
  * filter shape (a 5-gram KenLM). `grams(j)` holds the bounded
  * (j+1)-gram vocabulary (U+0001-joined keys -> exact corpus counts);
  * `order = grams.length`.
  *
  * Token scoring dispatches on the LONGEST available context: L = the
  * largest j such that the context counts c_1(p_1), c_2(p_2,p_1), …,
  * c_j(p_j..p_1) are ALL known (a truncation hole at any level breaks the
  * chain there — same contiguity the per-level NULL-join checks give the
  * SQL oracle). The score is then
  * `ln( 0.5·r_L + 0.25·r_{L-1} + … + 0.5^L·r_1 + 0.5^L·c_1(cur)/N )`
  * left-associated highest-context-first, where
  * `r_j = c_{j+1}(p_j..p_1, cur) / c_j(p_j..p_1)` (absent numerators 0,
  * OOV `cur` counts 1). Every ratio <= 1 (kept counts are exact and the
  * numerator's support nests in the denominator's) and the dyadic weights
  * sum to 1, so p stays in (0,1]; the dyadic weights and fixed left
  * association make the IEEE arithmetic mirror exactly in SQL. L = 0
  * (first token / OOV predecessor) scores the plain unigram. Per-term
  * values round to the 1e-6 grid and sum as a long (order-independent),
  * mirrored by the t_unigram_lp / t_bigram_lp / t_trigram_lp oracles.
  *
  * All vocabularies live in ONE trie built lazily from the expression's
  * maps; scoring is a zero-shuffle projection with O(order) pointer-walk
  * lookups per token and zero per-token allocation (context nodes roll
  * forward — the new length-j context node is the old length-(j-1) node's
  * `cur` child).
  *
  * MODEL-SIZE budget: the maps serialize inside the expression and the
  * transient trie rebuilds per deserialized task instance, so total
  * entries across levels should stay in the low hundreds of thousands
  * (measured: ~250 k entries is comfortable; an 850 k-entry model
  * GC-froze a 16-core driver). A KenLM-scale model (tens of millions of
  * n-grams) needs an executor-shared representation — a broadcast
  * variable with a JVM-level cache, or an off-heap/file-backed store —
  * behind the same scoring contract; the bounded-vocabulary form here is
  * the CCNet-style filter at the sizes its published pipeline uses for
  * per-language reference models. Returns struct(logprob_fp, n_tok). */
case class NgramLogProbFp(
    child: Expression, grams: Seq[Map[String, Long]], total: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  require(total > 0, "total token count must be positive")
  require(grams.nonEmpty, "need at least the unigram vocabulary")
  def order: Int = grams.length
  override def dataType: DataType = StructType(Seq(
    StructField("logprob_fp", LongType, nullable = false),
    StructField("n_tok", LongType, nullable = false)))

  @transient private lazy val scorer = new NgramScorer(grams, total)

  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow =
    scorer.score(a)
  override def nullSafeEval(x: Any): Any =
    compute(x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramLp", this, classOf[NgramLogProbFp].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** EXECUTOR-SHARED form of [[NgramLogProbFp]] — identical arithmetic, but
  * the vocabulary maps ride a Spark BROADCAST (shipped once per executor,
  * torrent-distributed) and the scoring trie builds ONCE PER EXECUTOR JVM
  * (soft-referenced cache keyed by broadcast id) instead of once per task.
  * This lifts the embedded form's measured model-size ceiling (~250 k
  * entries; an 850 k-entry embedded model GC-froze a 16-core driver) to
  * KenLM-class sizes bounded only by executor memory — the form a real
  * CCNet-scale reference model deploys with. Scoring is still a
  * zero-shuffle codegen'd projection. */
case class NgramLogProbFpBroadcast(
    child: Expression,
    model: org.apache.spark.broadcast.Broadcast[(Seq[Map[String, Long]], Long)])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("logprob_fp", LongType, nullable = false),
    StructField("n_tok", LongType, nullable = false)))

  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow =
    NgramScorer.cached(model).score(a)
  override def nullSafeEval(x: Any): Any =
    compute(x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramLpBc", this, classOf[NgramLogProbFpBroadcast].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The order-N scoring core shared by the embedded and broadcast kernels:
  * trie (level-1 nodes carrying their precomputed unigram backoff scores)
  * + the longest-context dispatch loop. Built eagerly at construction;
  * never serialized (each kernel decides how the MAPS travel and when to
  * build). */
private[functions] final class NgramScorer(grams: Seq[Map[String, Long]], total: Long) {
  require(total > 0, "total token count must be positive")
  require(grams.nonEmpty, "need at least the unigram vocabulary")
  val order: Int = grams.length

  private val root: NgramTrieNode = {
    val r = new NgramTrieNode
    var level = 0
    while (level < grams.length) {
      grams(level).foreach { case (k, c) =>
        val parts = k.split('\u0001')
        require(parts.length == level + 1,
          s"level-${level + 1} key with ${parts.length} components: $k")
        var node = r
        parts.foreach(p => node = node.ensureChild(UTF8String.fromString(p)))
        node.count = c
        if (level == 0) node.fp = math.round(math.log(c.toDouble / total) * 1e6)
      }
      level += 1
    }
    r
  }
  private val oovFp: Long =
    math.round(math.log(1.0 / total) * 1e6)

  def score(a: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val maxCtx = order - 1
    // ctxNode(j) = trie node of the length-j context (p_j .. p_1); index 0 unused
    val ctxNode = new Array[NgramTrieNode](maxCtx + 1)
    var chain = 0 // longest j with ctxNode(1..j) all carrying known counts
    val n = a.numElements()
    var sum = 0L
    var scored = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val cur = a.getUTF8String(i)
        val curUni = root.child(cur)
        val curKnown = curUni != null && curUni.count >= 0
        if (chain == 0) {
          sum += (if (curKnown) curUni.fp else oovFp)
        } else {
          val cu = if (curKnown) curUni.count else 1L
          var w = 0.5
          var p = 0.0
          var j = chain
          while (j >= 1) {
            val ctx = ctxNode(j)
            val numNode = ctx.child(cur)
            val num = if (numNode == null || numNode.count < 0) 0L else numNode.count
            p += w * (num.toDouble / ctx.count)
            if (j > 1) w *= 0.5
            j -= 1
          }
          p += w * (cu.toDouble / total)
          sum += math.round(math.log(p) * 1e6)
        }
        scored += 1
        // roll the context forward: new length-j context ends at cur
        var j = maxCtx
        while (j >= 2) {
          val prev = ctxNode(j - 1)
          ctxNode(j) = if (prev == null) null else prev.child(cur)
          j -= 1
        }
        if (maxCtx >= 1) ctxNode(1) = curUni
        chain = 0
        while (chain < maxCtx && ctxNode(chain + 1) != null &&
            ctxNode(chain + 1).count >= 0) chain += 1
      }
      i += 1
    }
    InternalRow(sum, scored)
  }
}

private[graft] object NgramScorer {
  // once-per-JVM scorer per broadcast model: soft refs so an executor under
  // memory pressure can shed an idle model and rebuild on next use.
  // Keyed by (application id, broadcast id), NOT broadcast id alone:
  // broadcast ids are a per-SparkContext counter, so in a long-lived JVM
  // that restarts its session (notebook, test harness) a new context's
  // broadcast N would otherwise hit the old context's cached scorer and
  // silently score with the wrong model. (The Broadcast INSTANCE can't be
  // the key — each task deserializes its own wrapper, which would rebuild
  // per task and defeat the cache.)
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), java.lang.ref.SoftReference[NgramScorer]]()
  /** Build count — test observability for the once-per-JVM contract. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0)

  private def appId(): String = {
    val env = org.apache.spark.SparkEnv.get
    if (env == null) "" else env.conf.getAppId
  }

  def cached(
      bc: org.apache.spark.broadcast.Broadcast[(Seq[Map[String, Long]], Long)]): NgramScorer = {
    val key = (appId(), bc.id)
    val ref = cache.get(key)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) hit
    else cache.synchronized {
      val again = { val r = cache.get(key); if (r == null) null else r.get() }
      if (again != null) again
      else {
        val (grams, total) = bc.value
        val s = new NgramScorer(grams, total)
        builds.incrementAndGet()
        cache.put(key, new java.lang.ref.SoftReference(s))
        s
      }
    }
  }
}

object TextFunctions {
  import org.apache.spark.sql.GraftShim
  def repetition_stats(text: Column): Column =
    GraftShim.column(RepetitionStats(GraftShim.expression(text)))
  def gopher_pass(stats: Column): Column =
    GraftShim.column(GopherPass(GraftShim.expression(stats)))
  def word_counts(text: Column): Column =
    GraftShim.column(WordCounts(GraftShim.expression(text)))
  def ngram_logprob_fp(tokens: Column, grams: Seq[Map[String, Long]], total: Long): Column =
    GraftShim.column(NgramLogProbFp(GraftShim.expression(tokens), grams, total))
  def ngram_logprob_fp_broadcast(tokens: Column,
      model: org.apache.spark.broadcast.Broadcast[(Seq[Map[String, Long]], Long)]): Column =
    GraftShim.column(NgramLogProbFpBroadcast(GraftShim.expression(tokens), model))
}
