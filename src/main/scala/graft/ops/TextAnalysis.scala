package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language ID, quality
  * scoring, token counting, fingerprinting. Every operator is a pure
  * column-level projection (codegen'd, zero shuffles) — at 100 TB these run
  * at scan speed and pushdown/pruning still apply.
  */
object TextAnalysis {

  /** Whitespace token count — runs of non-whitespace. (Not trim+split:
    * SQL `trim` strips only 0x20, so tab/newline-only strings would
    * miscount.) */
  def whitespaceTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token (a cheap, deterministic proxy for
    * subword tokenizers). */
  val bpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeIshTokens(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeIshPattern), lit(0)))

  /** Pattern REDACTION — the PII-scrubbing primitive (emails, phone
    * numbers, IPs, ID-like digit runs replaced before training). Rules
    * apply IN ORDER (earlier replacements are visible to later patterns —
    * order rules from most to least specific). Pure projection: scan-speed
    * at any scale, no UDFs. */
  def redact(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (c, (re, repl)) => regexp_replace(c, re, repl) }

  /** Match count for one pattern (audit companion to [[redact]]: how many
    * spans each rule would hit). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Conventional PII rule set: emails, then phone-like digit groups
    * (requires a separator or leading `+` so bare digit runs fall through),
    * then bare long digit runs (order matters — an email's digits must not
    * be half-eaten by the number rules first). */
  val piiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9]{1,4}[ ()-][0-9 ()-]{5,}[0-9]" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** Integer quality features (exact, oracle-friendly). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    Seq(
      "n_chars_obs" -> length(text),
      "n_words" -> size(words),
      "n_distinct_words" -> size(array_distinct(words)),
      "n_punct" -> size(regexp_extract_all(text, lit("[.!?,;:]"), lit(0))),
      "n_digits" -> size(regexp_extract_all(text, lit("[0-9]"), lit(0))),
      "n_upper" -> size(regexp_extract_all(text, lit("[A-Z]"), lit(0))))
  }

  /** Quality gate in pure integer arithmetic: enough words, sane length,
    * vocabulary richness ≥ 30%, punctuation ≤ 20% of chars. */
  def qualityPass(text: Column): Column = {
    val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    val nWords = size(words)
    val nDistinct = size(array_distinct(words))
    val nPunct = size(regexp_extract_all(text, lit("[.!?,;:]"), lit(0)))
    val nChars = length(text)
    (nWords >= 5) && (nChars >= 20) && (nChars <= 100000) &&
      (nDistinct * 10 >= nWords * 3) && (nPunct * 5 <= nChars)
  }

  /** Stopword-hit language ID: count whole-word hits of per-language stopword
    * alternations; highest count wins, ties broken by a fixed language order.
    * Deterministic, regex-only (n-gram-class heuristic). */
  val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|it|was|for)\\b",
    "es" -> "\\b(el|la|de|que|y|en|un|una|por|con)\\b",
    "fr" -> "\\b(le|la|les|de|et|un|une|dans|pour|que)\\b",
    "de" -> "\\b(der|die|das|und|ist|von|mit|den|des|ein)\\b")

  def langHits(text: Column): Seq[(String, Column)] =
    langStopwords.map { case (lg, re) =>
      lg -> size(regexp_extract_all(lower(text), lit(re), lit(0)))
    }

  /** Predicted language code, or 'unknown' when no stopword hits at all. */
  def langId(text: Column): Column = {
    val hits = langHits(text)
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("unknown"): Column) { case ((lg, h), acc) =>
      when(h === best && best > 0, lg).otherwise(acc)
    }
    // foldRight ⇒ earlier languages win ties (fixed order above)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * stable under reflow/case changes, the normalization step of near-dup
    * pipelines. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Rolling polynomial hash (base 31, mod 2^64 via Long overflow) over
    * characters — a locality-friendly fingerprint whose prefix property
    * supports chunk-level dedup. Catalyst-only via aggregate over the
    * char codes. */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast(LongType)),
      lit(0L), (acc, c) => acc * 31L + c)

  /** Gopher/MassiveText repetition signals as a struct of exact integer
    * numerators/denominators — see [[graft.functions.RepetitionStats]] for
    * the shared definitions. Single-pass kernel, zero shuffles. */
  def repetitionStats(text: Column): Column =
    graft.functions.TextFunctions.repetition_stats(text)

  /** Gopher repetition gate over the [[repetitionStats]] integer fields, in
    * multiply-form so no float thresholds enter the plan. Thresholds are the
    * published MassiveText ones: duplicate-line fraction <= 0.30, duplicate-
    * line char fraction <= 0.20, top {2,3,4}-gram char fraction <=
    * {0.20, 0.18, 0.16}, duplicated {5,10}-gram char coverage <=
    * {0.15, 0.10}. Empty documents (no words) fail the gate; a null struct
    * (null text) gives null.
    *
    * One codegen'd expression ([[graft.functions.GopherPass]]) whose only
    * child is `stats`, so a `Filter` evaluates the stats kernel once per
    * row; written as Column algebra over the eleven fields it ran once per
    * field reference, since `FilterExec` shares no subexpressions. `stats`
    * must be the [[repetitionStats]] struct (checked at analysis). */
  def gopherPass(stats: Column): Column =
    graft.functions.TextFunctions.gopher_pass(stats)

  /** Flattened per-document repetition profile + the boolean gate, keyed by
    * `idCol`. */
  def repetitionProfile(df: DataFrame, textCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val st = repetitionStats(col(textCol))
    val flat = graft.functions.RepetitionStats.fieldNames.map(f => st(f).as(f))
    df.select((col(idCol) +: flat) :+ gopherPass(st).as("gopher_pass"): _*)
  }

  /** Corpus-wide top-k terms by DOCUMENT frequency (docs containing the
    * term — `word_shingles(k=1)` is per-doc distinct, so explode+count is DF
    * not TF). Scale shape: narrow tokenize projection → explode → two-phase
    * hash agg with map-side combine on the term key → TakeOrdered k.
    * Deterministic ties: (df desc, term asc). */
  def topTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(graft.functions.VecFunctions.word_shingles(col(textCol), 1)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("term"))
      .limit(k)

  /** The REST of the published Gopher quality heuristics (Rae et al. 2021
    * §A1.1, complementing [[repetitionStats]]' repetition signals) as exact
    * integer features over WHITESPACE tokens (`\S+` — this family reasons
    * about typography, not vocabulary, so tokens keep their punctuation):
    *
    *  - `n_words`, `word_chars` (non-whitespace chars = Σ token lengths),
    *    `n_alpha_words` (tokens containing >= 1 ASCII letter)
    *  - `n_bullet_lines` (lines starting `-`/`*`/`•`),
    *    `n_ellipsis_lines` (lines ending `...`/`…`), `n_lines`
    *  - `n_hash` (`#` occurrences) and `n_ellipsis` (`...`/`…` occurrences)
    *    — PER-SYMBOL counts, because the published Gopher rule gates each
    *    symbol-to-word ratio separately (Rae et al. 2021 §A1.1: "symbol-to-
    *    word ratio greater than 0.1 for either the hash symbol or the
    *    ellipsis"), not a combined total
    *  - `n_stop_distinct` (how many of 8 common English stopwords appear) */
  def gopherQualityFeatures(text: Column): Seq[(String, Column)] = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // ENGINE-PARITY regexes (Java here, RE2 in the DuckDB oracle):
    //  - whitespace is the explicit class [ \t\n\x0B\f\r] — Java \s includes
    //    \x0B, RE2's does not;
    //  - multiline ^/$ get Java's (?d) UNIX_LINES flag so only \n terminates
    //    lines, matching RE2's multiline semantics (\r, U+0085, U+2028/9
    //    would otherwise split lines in Java only). RE2 has no (?d) and
    //    needs none.
    val ws = " \\t\\n\\x0B\\f\\r"
    Seq(
      "n_words" -> size(regexp_extract_all(text, lit(s"[^$ws]+"), lit(0))),
      "word_chars" -> length(regexp_replace(text, s"[$ws]", "")),
      "n_alpha_words" -> size(regexp_extract_all(text,
        lit(s"[^$ws]*[A-Za-z][^$ws]*"), lit(0))),
      "n_lines" -> size(regexp_extract_all(text, lit("(?dm)^[^\\n]+"), lit(0))),
      "n_bullet_lines" -> size(regexp_extract_all(text, lit("(?dm)^[ \\t]*[-*•]"), lit(0))),
      "n_ellipsis_lines" -> size(regexp_extract_all(text, lit("(?dm)(\\.{3}|…)[ \\t]*$"), lit(0))),
      "n_hash" -> size(regexp_extract_all(text, lit("#"), lit(0))),
      "n_ellipsis" -> size(regexp_extract_all(text, lit("\\.{3}|…"), lit(0))),
      "n_stop_distinct" -> stops.map(s =>
        when(lower(text).rlike(s"\\b$s\\b"), 1).otherwise(0)).reduce(_ + _))
  }

  /** The published Gopher quality gate in multiply-form: 50-100k words,
    * mean word length 3-10, PER-SYMBOL ratio <= 0.1 for `#` and for
    * ellipses separately (the published rule gates each symbol on its own
    * ratio, not a combined count), bullet lines <= 90%, ellipsis lines <=
    * 30%, >= 80% alphabetic words, >= 2 distinct stopwords. Combine with
    * [[gopherPass]] (the repetition gate) for the complete MassiveText
    * filter. */
  def gopherQualityPass(text: Column): Column = {
    val f = gopherQualityFeatures(text).toMap
    val (nw, wc) = (f("n_words"), f("word_chars"))
    (nw >= 50) && (nw <= 100000) &&
      (wc >= nw * 3) && (wc <= nw * 10) &&
      (f("n_hash") * 10 <= nw) &&
      (f("n_ellipsis") * 10 <= nw) &&
      (f("n_bullet_lines") * 10 <= f("n_lines") * 9) &&
      (f("n_ellipsis_lines") * 10 <= f("n_lines") * 3) &&
      (f("n_alpha_words") * 10 >= nw * 8) &&
      (f("n_stop_distinct") >= 2)
  }

  /** TF-IDF keyword extraction: top-k terms per document scored by
    * `tf * round(ln((N+1)/(df+1)) * 1e6)` — smoothed idf in fixed point, so
    * scores are exact integers (cross-engine-stable) and ties break by term.
    *
    * Scale shape: TF is computed IN-ROW ([[graft.functions.WordCounts]],
    * zero shuffle — an explode→groupBy(doc, term) formulation would shuffle
    * every token occurrence), document frequency is a two-phase hash agg
    * over the per-doc DISTINCT terms, the idf join is term-keyed (AQE
    * broadcasts small df tables), and the per-doc top-k window is bounded
    * by document vocabulary size. One driver-side count() for N (the
    * corpus-size scalar every idf needs). */
  /** Convenience form: the internal token cache self-releases after the
    * first materializing action (see `graft.AutoRelease`); long-lived /
    * multi-pass pipelines should use [[tfidfTopTermsCached]] and release
    * explicitly (the same trade as `Dedup.minhashLsh` vs
    * `minhashLshCached`). */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val (out, release) = tfidfTopTermsCached(df, textCol, idCol, k)
    graft.AutoRelease.onFirstMaterialize(out, release)
  }

  /** [[tfidfTopTerms]] plus a RELEASE handle for the internal (id, term,
    * tf) cache — the tokenized frame feeds BOTH the df aggregation and the
    * scoring join, so without the persist the per-document tokenization of
    * the whole corpus would run twice. Call the handle once the result is
    * materialized (same discipline as `Dedup.minhashLshCached`). */
  def tfidfTopTermsCached(df: DataFrame, textCol: String, idCol: String,
      k: Int): (DataFrame, () => Unit) = {
    require(k >= 1, "k >= 1")
    val base = df.filter(col(textCol).isNotNull)
    // N scans only the text-null mask (one cheap column), not the tokens
    val n = base.count()
    val tc = base.select(col(idCol),
        explode(graft.functions.TextFunctions.word_counts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.term").as("term"), col("tc.tf").as("tf"))
      .persist()
    val idf = tc.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_fp",
        round(log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) * 1e6).cast(LongType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("score_fp"), col("term"))
    val out = tc.join(idf, Seq("term"))
      .withColumn("score_fp", col("tf").cast(LongType) * col("idf_fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score_fp"), col("rn"))
    (out, () => { tc.unpersist(); () })
  }

  /** One-call document profile: everything above as columns. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val withFeatures = qualityFeatures(t).foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }
    withFeatures
      .withColumn("n_ws_tokens", whitespaceTokens(t))
      .withColumn("n_bpe_tokens", bpeIshTokens(t))
      .withColumn("quality_pass", qualityPass(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
