package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The constraint algebra.
  *
  * Every leaf check of the reference (`verify/src/impls/schemars/macros.rs` +
  * `schema.rs:390-1005`, see SURVEY.md §2.1) is a pure Boolean function of one
  * row, so each compiles to ONE Catalyst `Column` predicate plus a
  * violation-constructor `Column` producing `array<struct>` of violation rows
  * for that row. The whole row-local suite is then a single wide projection —
  * one scan, whole-stage-codegen'd, no UDFs (SURVEY.md §4.2).
  *
  * Cross-row checks (uniqueness / referential / drift) compile to
  * [[AggConstraint]]s that own their shuffle (SURVEY.md §2.4).
  *
  * Null semantics: like JSON Schema (and the reference, where a missing key
  * simply never reaches the check), value constraints PASS on null — presence
  * is asserted separately with [[NonNull]].
  */
object Constraints {

  /** Schema of one violation entry produced inside a row (before the runner
    * attaches doc_id/bucket_id). */
  val vioEntryType: StructType = StructType(Seq(
    StructField("constraint_id", StringType),
    StructField("path", StringType),
    StructField("bound", StringType),
    StructField("actual", StringType)))
  val vioArrayType: ArrayType = ArrayType(vioEntryType, containsNull = false)

  /** Typed empty array<struct<...>> — the "no violations" value. */
  def noVios: Column = array().cast(vioArrayType)

  def entry(id: String, path: Column, bound: String, actual: Column): Column =
    entryC(id, path, lit(bound), actual)

  /** entry variant with a computed (per-row) bound string. */
  def entryC(id: String, path: Column, bound: Column, actual: Column): Column =
    struct(
      lit(id).as("constraint_id"),
      path.as("path"),
      bound.as("bound"),
      coalesce(actual.cast(StringType), lit("<null>")).as("actual"))

  /** Violation array for a scalar (whole-column) check. */
  def scalarVios(id: String, pred: Column, path: String, bound: String, actual: Column): Column =
    when(!coalesce(pred, lit(false)), array(entry(id, lit(path), bound, actual))).otherwise(noVios)

  /** Resolve a dotted path (`some_inner.inner_value`) through nested
    * StructTypes — the schema-walk the reference does per-value at runtime
    * (serde.rs), done ONCE at compile time here. */
  private[graft] def fieldType(schema: StructType, path: String): Option[DataType] = {
    def walk(dt: DataType, segs: List[String]): Option[DataType] = (dt, segs) match {
      case (t, Nil) => Some(t)
      case (st: StructType, s :: rest) =>
        st.fields.find(_.name == s).flatMap(f => walk(f.dataType, rest))
      case _ => None
    }
    // NOTE: a literal top-level column named "a.b" is deliberately NOT
    // matched — every pred uses col(name), which Spark parses as nested
    // access, so accepting it here would pass compile and crash at run
    walk(schema, path.split('.').toList)
  }

  private[graft] def requireCol(schema: StructType, c: String, ctx: String): List[SuiteError] =
    if (fieldType(schema, c).isDefined) Nil else List(SuiteError.UnknownColumn(c, ctx))

  private[graft] def requireNumeric(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(_: NumericType) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "numeric", dt, ctx))
    }

  private[graft] def requireArray(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(_: ArrayType) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "array", dt, ctx))
    }

  private[graft] def requireString(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(StringType) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "string", dt, ctx))
    }

  private[graft] def requireMap(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(_: MapType) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "map", dt, ctx))
    }

  /** Array column whose ELEMENTS are PRIMITIVE numerics — the compile-time
    * guard for element-range checks. Deliberately excludes DecimalType (a
    * NumericType): ArrayAllInRange's getter/codegen reads primitive slots
    * only, so admitting decimals here would re-open the executor-crash hole
    * this guard exists to close. */
  private[graft] def requireNumericArray(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(ArrayType(ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType, _)) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "array<numeric (non-decimal)>", dt, ctx))
    }

  /** Array column whose ELEMENTS are PRIMITIVE integrals — the guard for
    * pad-layout checks, where equality against a token id must be exact
    * (float == is a footgun, so FloatType/DoubleType are rejected too). */
  private[graft] def requireIntegralArray(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(ArrayType(ByteType | ShortType | IntegerType | LongType, _)) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "array<integral>", dt, ctx))
    }

  /** Array column whose ELEMENTS are strings (items.pattern / items length). */
  private[graft] def requireStringArray(schema: StructType, c: String, ctx: String): List[SuiteError] =
    fieldType(schema, c) match {
      case None => List(SuiteError.UnknownColumn(c, ctx))
      case Some(ArrayType(StringType, _)) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(c, "array<string>", dt, ctx))
    }

  /** Does a Catalyst type conform to a JSON Schema `type` keyword value?
    * (reference dispatch: `check_type!` from every `validate_*`,
    * macros.rs:26-114 / schema.rs:390-612). Spark types are table-wide, so
    * this is decided once at compile time. */
  private[graft] def jsonTypeConforms(dt: DataType, jsonType: String): Boolean = jsonType match {
    case "string" => dt == StringType
    case "integer" => dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    case "number" => dt.isInstanceOf[NumericType]
    case "boolean" => dt == BooleanType
    case "array" => dt.isInstanceOf[ArrayType]
    case "object" => dt.isInstanceOf[MapType] || dt.isInstanceOf[StructType]
    case "null" => dt == NullType
    case _ => false
  }

  private[graft] val jsonTypeNames: Set[String] =
    Set("string", "integer", "number", "boolean", "array", "object", "null")

  /** `a div b`: Catalyst's TRUE integral division (truncating; null on a
    * zero divisor) — no double round-trip that could flip a quotient
    * within one ulp of an integer between engines. */
  private[graft] def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    GraftShim.column(new IntegralDivide(GraftShim.expression(a), GraftShim.expression(b)))
  }

  /** `floor(num·10^6 / den)` with the division in DECIMAL(38,0) — TRUE
    * integral division (no double round-trip, no half-up decimal rounding
    * that could flip a floor by one ulp between engines), and num·10^6
    * can't overflow a LONG mid-expression. The shared fixed-point-rate
    * primitive (same contract as perplexityFp / oovProfile). */
  private[graft] def intDivFp(num: Column, den: Column): Column = {
    val d38 = DecimalType(38, 0)
    intDiv(num.cast(d38) * lit(1000000), den.cast(d38)).cast(LongType)
  }
}

sealed trait Constraint { def id: String }

/** Row-local constraint: one predicate + one violation-array expression. */
sealed trait RowConstraint extends Constraint {
  import Constraints._
  /** Compile-time self-check against the input schema — analog of the
    * reference's `RootSchema::verify` (verify.rs:9-171). */
  def selfCheck(schema: StructType): List[SuiteError]
  /** true ⇔ the row passes this constraint (null-safe: never null). */
  def pred: Column
  /** array<struct<constraint_id,path,bound,actual>> — empty iff pass. */
  def vios: Column = scalarVios(id, pred, pathStr, boundStr, actualCol)
  protected def pathStr: String
  protected def boundStr: String
  protected def actualCol: Column
}

// ---------------------------------------------------------------------------
// Scalar leaves (reference C1-C10, C21, C23, C24 — SURVEY.md §2.1)
// ---------------------------------------------------------------------------

/** C21 `required` analog: column must be non-null (errors.rs `RequiredProperty`). */
final case class NonNull(col: String) extends RowConstraint {
  val id = s"nonnull($col)"
  def selfCheck(s: StructType) = Constraints.requireCol(s, col, id)
  def pred = org.apache.spark.sql.functions.col(col).isNotNull
  protected def pathStr = col
  protected def boundStr = "not null"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C23: value must be null (reference `Null` instance type, schema.rs:541-570). */
final case class IsNull(col: String) extends RowConstraint {
  val id = s"isnull($col)"
  def selfCheck(s: StructType) = Constraints.requireCol(s, col, id)
  def pred = org.apache.spark.sql.functions.col(col).isNull
  protected def pathStr = col
  protected def boundStr = "null"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C4-C7: numeric bounds. All reference comparisons happen in f64
  * (macros.rs:251-315) so Double bounds are lossless parity. Null passes.
  * NOTE on 128-bit integers: the reference's i128/u128 checks also go
  * through f64 (same macros), losing precision past 2^53 — this engine
  * shares that domain deliberately (parity-neutral). For exact >2^53 bounds
  * on a DecimalType column, compare in SQL decimal space instead of using
  * Range. */
final case class Range(
    col: String, min: Double = Double.NegativeInfinity, max: Double = Double.PositiveInfinity,
    exclusiveMin: Boolean = false, exclusiveMax: Boolean = false) extends RowConstraint {
  val id = s"range($col)"
  def selfCheck(s: StructType) =
    Constraints.requireNumeric(s, col, id) ++
      (if (min > max) List(SuiteError.InvalidBounds(id, min, max)) else Nil)
  def pred = {
    val c = org.apache.spark.sql.functions.col(col).cast(DoubleType)
    val lo = if (min == Double.NegativeInfinity) lit(true) else if (exclusiveMin) c > min else c >= min
    val hi = if (max == Double.PositiveInfinity) lit(true) else if (exclusiveMax) c < max else c <= max
    c.isNull || (lo && hi)
  }
  protected def pathStr = col
  protected def boundStr = {
    val lb = if (exclusiveMin) s"($min" else s"[$min"
    val ub = if (exclusiveMax) s"$max)" else s"$max]"
    s"$lb,$ub"
  }
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** EXACT-decimal range bounds — parity-PLUS over the reference, whose
  * numeric comparisons ALL run in f64 (`$value as f64`, macros.rs:251+):
  * integer/decimal values beyond 2^53 are indistinguishable in the double
  * domain, so [[Range]] (the reference-faithful form, SURVEY §1.2's
  * documented i128/u128 loss) cannot see off-by-one violations there.
  * DecimalRange compares in the DECIMAL domain with BigDecimal bounds —
  * exact at any magnitude within DECIMAL(38). Restricted to decimal and
  * integral columns (a float column cannot honor the exactness contract
  * and is rejected at compile time). Null passes (leaf null-stance). */
final case class DecimalRange(
    col: String, min: Option[BigDecimal] = None, max: Option[BigDecimal] = None,
    exclusiveMin: Boolean = false, exclusiveMax: Boolean = false) extends RowConstraint {
  val id = s"decimalRange($col)"

  // canonical literal form: negative java scales ("1E+21") carry only
  // trailing zeros — rescale to 0 EXACTLY so Spark's decimal literal
  // (which forbids negative scales) can represent the bound
  private def norm(m: BigDecimal): java.math.BigDecimal = {
    val b = m.bigDecimal
    if (b.scale < 0) b.setScale(0) else b
  }

  def selfCheck(s: StructType) = {
    // every invalid configuration must surface HERE as a SuiteError, never
    // as a runtime exception from literal construction or — worse — as a
    // silent overflow-to-null in the comparison's type promotion (ANSI off)
    // or a mid-scan throw (ANSI on). The promotion of decimal(p, s) vs a
    // bound (pb, sb) is bounded(max(p-s, pb-sb) + max(s, sb), max(s, sb)),
    // capped at 38: it loses column digits exactly when the bound's scale
    // exceeds the column's, or the combined digits exceed 38 — both are
    // rejected, keeping the comparison provably exact.
    def boundErrs(m: BigDecimal, which: String): List[SuiteError] = {
      val b = norm(m)
      val (pb, sb) = (b.precision, b.scale)
      if (pb > 38 || sb > 38)
        List(SuiteError.Unsupported(id, s"$which bound $m exceeds DECIMAL(38) precision"))
      else Constraints.fieldType(s, col) match {
        case Some(dt: DecimalType) if sb > dt.scale =>
          List(SuiteError.Unsupported(id,
            s"$which bound $m has scale $sb finer than the column's " +
              s"DECIMAL(${dt.precision},${dt.scale}) — the comparison could not stay exact"))
        case Some(dt: DecimalType) if (pb - sb) > 38 - dt.scale =>
          List(SuiteError.Unsupported(id,
            s"$which bound $m needs ${pb - sb} integral digits; comparing with " +
              s"DECIMAL(${dt.precision},${dt.scale}) would overflow DECIMAL(38)"))
        case Some(ByteType | ShortType | IntegerType | LongType)
            if sb + math.max(20, pb - sb) > 38 =>
          List(SuiteError.Unsupported(id,
            s"$which bound $m vs an integral column would overflow DECIMAL(38)"))
        case _ => Nil
      }
    }
    val typeErr = Constraints.fieldType(s, col) match {
      case None => List(SuiteError.UnknownColumn(col, id))
      case Some(_: DecimalType | ByteType | ShortType | IntegerType | LongType) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(col, "decimal or integral", dt, id))
    }
    val boundErr = (min, max) match {
      case (Some(a), Some(b)) if a > b =>
        // render the EXACT bounds — a double rendering would collapse the
        // very >2^53 distinctions this constraint exists for
        List(SuiteError.Unsupported(id, s"inverted bounds: min $a > max $b"))
      case _ => Nil
    }
    typeErr ++ boundErr ++
      (if (typeErr.isEmpty)
        min.toList.flatMap(boundErrs(_, "min")) ++ max.toList.flatMap(boundErrs(_, "max"))
      else Nil)
  }
  def pred = {
    val c = org.apache.spark.sql.functions.col(col)
    val lo = min.map(m => if (exclusiveMin) c > lit(norm(m)) else c >= lit(norm(m)))
      .getOrElse(lit(true))
    val hi = max.map(m => if (exclusiveMax) c < lit(norm(m)) else c <= lit(norm(m)))
      .getOrElse(lit(true))
    c.isNull || (lo && hi)
  }
  protected def pathStr = col
  protected def boundStr = {
    val lb = min.map(m => if (exclusiveMin) s"($m" else s"[$m").getOrElse("(-inf")
    val ub = max.map(m => if (exclusiveMax) s"$m)" else s"$m]").getOrElse("inf)")
    s"$lb,$ub"
  }
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C3 multipleOf (f64 modulo, macros.rs:250-259). The reference silently skips
  * m==0; we reject it at compile time instead (documented deviation). */
final case class MultipleOf(col: String, m: Double) extends RowConstraint {
  val id = s"multipleOf($col)"
  def selfCheck(s: StructType) =
    Constraints.requireNumeric(s, col, id) ++
      (if (m == 0.0) List(SuiteError.Unsupported(id, "multipleOf 0")) else Nil)
  def pred = {
    val c = org.apache.spark.sql.functions.col(col).cast(DoubleType)
    c.isNull || pmod(c, lit(m)) === 0.0
  }
  protected def pathStr = col
  protected def boundStr = s"multipleOf $m"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C8 pattern. Regex is compiled ONCE at suite-compile time (the reference
  * recompiles per value, macros.rs:336 — a documented inefficiency we must
  * not copy, SURVEY.md §4.1). rlike = find-anywhere, same as the reference's
  * `Regex::is_match`. Null passes. */
final case class Regex(col: String, pattern: String) extends RowConstraint {
  val id = s"regex($col)"
  def selfCheck(s: StructType) =
    Constraints.requireString(s, col, id) ++
      (scala.util.Try(java.util.regex.Pattern.compile(pattern)) match {
        case scala.util.Failure(e) => List(SuiteError.InvalidPattern(pattern, e.getMessage))
        case _ => Nil
      })
  def pred = {
    val c = org.apache.spark.sql.functions.col(col)
    c.isNull || c.rlike(pattern)
  }
  protected def pathStr = col
  protected def boundStr = s"pattern $pattern"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** Draft-07 `format` vocabulary as anchored regexes — PRAGMATIC
  * (RFC-shaped, not full RFC parsers; precision notes per format below),
  * written in the common Java-regex/RE2 subset (no lookaround, no
  * backreferences) so any engine reproduces the verdicts bit-for-bit. */
object Formats {
  /** format name → anchored pattern. Precision stances:
    *  - date/date-time: RFC 3339 shape with month 01-12 / day 01-31 /
    *    hour 00-23 / leap-second 60 — NOT month-length/leap-year aware
    *  - email: HTML5-style pragmatic form (dot-atom @ hostname)
    *  - hostname: RFC 1123 labels (1-63 chars, LDH, no leading/trailing
    *    hyphen) — the 253-char total cap needs lookahead, so it is
    *    enforced by [[FormatCheck]] as a length conjunct, not the regex
    *  - ipv6: full + `::`-compressed forms; no zone-id, no embedded IPv4
    *  - uri: absolute form — scheme ':' then any non-whitespace */
  private val time = "([01][0-9]|2[0-3]):[0-5][0-9]:([0-5][0-9]|60)(\\.[0-9]+)?"
  private val tzOff = "([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])"
  private val fullDate = "[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
  private val hostLabel = "[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
  private val hostname = s"$hostLabel(\\.$hostLabel)*"
  private val ipv4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
  private val h16 = "[0-9A-Fa-f]{1,4}"

  val patterns: Map[String, String] = Map(
    "date" -> s"^$fullDate$$",
    "time" -> s"^$time$tzOff$$",
    "date-time" -> s"^$fullDate[Tt]$time$tzOff$$",
    "email" -> s"^[A-Za-z0-9.!#$$%&'*+/=?^_`{|}~-]+@$hostname$$",
    "hostname" -> s"^$hostname$$",
    "ipv4" -> s"^($ipv4Octet\\.){3}$ipv4Octet$$",
    "ipv6" -> ("^(" +
      s"($h16:){7}$h16" + "|" + // full form
      s"($h16:){1,7}:" + "|" + // trailing ::
      s"($h16:){1,6}:$h16" + "|" +
      s"($h16:){1,5}(:$h16){1,2}" + "|" +
      s"($h16:){1,4}(:$h16){1,3}" + "|" +
      s"($h16:){1,3}(:$h16){1,4}" + "|" +
      s"($h16:){1,2}(:$h16){1,5}" + "|" +
      s"$h16:(:$h16){1,6}" + "|" +
      s":((:$h16){1,7}|:)" + // leading ::
      ")$"),
    "uuid" -> "^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$",
    "uri" -> "^[A-Za-z][A-Za-z0-9+.-]*:[^ \\t\\r\\n]*$")

  val known: Set[String] = patterns.keySet
}

/** Draft-07 `format` check (string columns; null passes). The reference
  * leaves format unimplemented (`// TODO format`, macros.rs:327) — this is
  * parity-PLUS, like `dependencies`. Pragmatic RFC-shaped regexes (see
  * [[Formats]] for the documented precision stance per format); unknown
  * format names are a compile ERROR at the leaf (the draft-07 "ignore
  * unknown formats" stance lives in the schema LOADER, which skips them —
  * constructing the leaf by hand states intent to validate). */
final case class FormatCheck(col: String, format: String) extends RowConstraint {
  val id = s"format($col,$format)"
  def selfCheck(s: StructType): List[SuiteError] =
    Constraints.requireString(s, col, id) ++
      (if (Formats.known(format)) Nil
       else List(SuiteError.Unsupported(id,
         s"unknown format '$format' (known: ${Formats.known.toSeq.sorted.mkString(", ")})")))
  def pred = {
    val c = org.apache.spark.sql.functions.col(col)
    val base = c.isNull || c.rlike(Formats.patterns(format))
    // RFC 1035/1123 total-length cap — regex-free conjunct (no lookahead
    // in the RE2-safe subset)
    if (format == "hostname") base && (c.isNull || length(c) <= 253) else base
  }
  protected def pathStr = col
  protected def boundStr = s"format $format"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C9/C10 string length in characters — reference counts chars not bytes
  * (macros.rs:357,368) and so does Spark's `length` on StringType.
  * NOTE the reference only enforces length when `pattern` is also present
  * (a bug, macros.rs:335-377); ours is unconditional (SURVEY.md §7.4). */
final case class LengthBounds(col: String, min: Option[Int] = None, max: Option[Int] = None)
    extends RowConstraint {
  val id = s"length($col)"
  def selfCheck(s: StructType) =
    Constraints.requireString(s, col, id) ++
      ((min, max) match {
        case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(id, a, b))
        case _ => Nil
      })
  def pred = {
    val n = length(org.apache.spark.sql.functions.col(col))
    val lo = min.map(a => n >= a).getOrElse(lit(true))
    val hi = max.map(b => n <= b).getOrElse(lit(true))
    org.apache.spark.sql.functions.col(col).isNull || (lo && hi)
  }
  protected def pathStr = col
  protected def boundStr = s"length in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  protected def actualCol = length(org.apache.spark.sql.functions.col(col))
}

/** Cross-COLUMN ordering: `a <= b` (or `a < b` when `allowEqual=false`)
  * must hold on every COMPLETE row — rows where either side is null pass
  * (the leaf null-stance; assert presence separately with [[NonNull]]).
  * The reference's checks are all single-value (schema.rs:390-612); this is
  * the standard data-quality extension (Deequ's `isLessThan` family) a
  * tokenized-corpus suite needs for invariants like `n_tok <= max_len_col`
  * or `created_at <= ingested_at`. Compile-time comparability: both columns
  * numeric (Spark's binary-comparison coercion applies — mixed
  * integral/floating pairs compare in the double domain, same documented
  * stance as [[Range]]), or the SAME orderable atomic type (string /
  * timestamp / date / boolean). One codegen'd comparison, no shuffle. */
final case class ColOrder(a: String, b: String, allowEqual: Boolean = true)
    extends RowConstraint {
  private def op = if (allowEqual) "<=" else "<"
  val id = s"colOrder($a$op$b)"
  def selfCheck(s: StructType): List[SuiteError] = {
    val known = Constraints.requireCol(s, a, id) ++ Constraints.requireCol(s, b, id)
    if (known.nonEmpty) known
    else if (a == b) List(SuiteError.Unsupported(id, "a and b are the same column"))
    else (Constraints.fieldType(s, a).get, Constraints.fieldType(s, b).get) match {
      case (_: NumericType, _: NumericType) => Nil
      case (x, y) if x == y &&
          (x == StringType || x == TimestampType || x == DateType || x == BooleanType) => Nil
      case (x, y) =>
        List(SuiteError.TypeMismatch(b, s"comparable with $a (${x.typeName})", y, id))
    }
  }
  def pred = {
    val ca = org.apache.spark.sql.functions.col(a)
    val cb = org.apache.spark.sql.functions.col(b)
    ca.isNull || cb.isNull || (if (allowEqual) ca <= cb else ca < cb)
  }
  protected def pathStr = a
  protected def boundStr = s"$op column $b"
  protected def actualCol = concat(
    coalesce(org.apache.spark.sql.functions.col(a).cast(StringType), lit("<null>")),
    lit(s" vs $b="),
    coalesce(org.apache.spark.sql.functions.col(b).cast(StringType), lit("<null>")))
}

/** C2 enum membership (macros.rs:116-241). Null passes.
  *
  * `epsilon > 0` switches to the reference's FLOAT-enum compare,
  * `abs(value - enum_val) < EPSILON` (macros.rs:189, `f64::EPSILON`) —
  * required for fractional double enums where exact `isin` would miss
  * values that round-trip differently. */
final case class EnumIn(col: String, values: Seq[Any], epsilon: Double = 0.0)
    extends RowConstraint {
  val id = s"enum($col)"
  def selfCheck(s: StructType) =
    (if (epsilon > 0) Constraints.requireNumeric(s, col, id) else Constraints.requireCol(s, col, id)) ++
      (if (values.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil) ++
      (if (epsilon > 0 && !values.forall(_.isInstanceOf[Number]))
        List(SuiteError.Unsupported(id, "epsilon compare requires numeric enum values")) else Nil)
  def pred = {
    val c = org.apache.spark.sql.functions.col(col)
    if (epsilon <= 0) c.isNull || c.isin(values: _*)
    else {
      val d = c.cast(DoubleType)
      val hits = values.collect { case n: Number =>
        abs(d - lit(n.doubleValue())) < epsilon
      }
      c.isNull || hits.reduceOption(_ || _).getOrElse(lit(false))
    }
  }
  protected def pathStr = col
  protected def boundStr = s"in {${values.mkString(",")}}"
  protected def actualCol = org.apache.spark.sql.functions.col(col)
}

/** C24 `false`-schema: rejects every row (macros.rs:6-24 `not_bool_schema!`). */
final case class Never(label: String = "never") extends RowConstraint {
  val id = label
  def selfCheck(s: StructType) = Nil
  def pred = lit(false)
  protected def pathStr = ""
  protected def boundStr = "never"
  protected def actualCol = lit("row")
}

/** `true`-schema: accepts everything. */
final case class Always(label: String = "always") extends RowConstraint {
  val id = label
  def selfCheck(s: StructType) = Nil
  def pred = lit(true)
  protected def pathStr = ""
  protected def boundStr = "always"
  protected def actualCol = lit("row")
}

// ---------------------------------------------------------------------------
// Array leaves (reference C11-C16 — items / contains / uniqueItems / size)
// ---------------------------------------------------------------------------

/** C11 per-element numeric domain (items schema, schema.rs:708-717).
  * Violations carry a per-element dotted path `col.i` — the reference's
  * sequence-index span segment (serde.rs:166-174). Built with higher-order
  * `filter((x,i) => …)` so only failing elements materialize: no explode of
  * passing arrays at 10^12 scale (SURVEY.md §7.4). */
final case class ArrayElemRange(col: String, min: Double, max: Double) extends RowConstraint {
  import Constraints._
  val id = s"elemRange($col)"
  def selfCheck(s: StructType) =
    requireNumericArray(s, col, id) ++ (if (min > max) List(SuiteError.InvalidBounds(id, min, max)) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) = x.cast(DoubleType) >= min && x.cast(DoubleType) <= max
  // native single-loop-per-row expression; forall() would interpret a
  // lambda per token (graft.functions.ArrayAllInRange)
  def pred = c.isNull || graft.functions.VecFunctions.array_all_in_range(c, min, max)
  override def vios: Column = {
    // null elements are violations too (data corruption in a tokens array):
    // coalesce keeps them in the filter instead of dropping NULL predicates
    val failIdx = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => !coalesce(elemOk(s.getField("v")), lit(false)))
    val entries = transform(failIdx, (s: Column) =>
      entry(id, concat(lit(col + "."), s.getField("i").cast(StringType)), boundStr, s.getField("v")))
    // conditional: passing rows (the overwhelming majority) never run the
    // per-element transform — violation construction is pay-per-defect
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"elem in [$min,$max]"
  protected def actualCol = c
}

/** C11 variant: every element ∈ an explicit value set. */
final case class ArrayElemIn(col: String, values: Seq[Any]) extends RowConstraint {
  import Constraints._
  val id = s"elemIn($col)"
  def selfCheck(s: StructType) =
    requireArray(s, col, id) ++ (if (values.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) = x.isin(values: _*)
  def pred = c.isNull || coalesce(forall(c, elemOk _), lit(false))
  override def vios: Column = {
    val failIdx = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => !coalesce(elemOk(s.getField("v")), lit(false)))
    val entries = transform(failIdx, (s: Column) =>
      entry(id, concat(lit(col + "."), s.getField("i").cast(StringType)), boundStr, s.getField("v")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"elem in {${values.take(8).mkString(",")}${if (values.size > 8) ",…" else ""}}"
  protected def actualCol = c
}

/** C13 contains: ≥1 element equals `value` (schema.rs:698-706, MustContain). */
final case class ArrayContainsValue(col: String, value: Any) extends RowConstraint {
  val id = s"contains($col)"
  def selfCheck(s: StructType) = Constraints.requireArray(s, col, id)
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = c.isNull || array_contains(c, value)
  protected def pathStr = col
  protected def boundStr = s"must contain $value"
  protected def actualCol = slice(c, 1, 8).cast(StringType)
}

/** Element-level predicate — the building block for the GENERAL `contains`
  * schema (C13 completion). Each maps one contains-subschema keyword to a
  * Column predicate over a single element. */
sealed trait ElemPred {
  def ok(x: Column): Column
  def describe: String
  /** Element-type requirement: "numeric", "string", or "any". */
  def needs: String
  def selfCheck(ctx: String): List[SuiteError] = Nil
}
/** minimum/maximum (inclusive-normalized by the loader). */
final case class ElemRange(min: Double, max: Double) extends ElemPred {
  def ok(x: Column) = x.cast(DoubleType) >= min && x.cast(DoubleType) <= max
  def describe = s"in [$min,$max]"
  def needs = "numeric"
  override def selfCheck(ctx: String) =
    if (min > max) List(SuiteError.InvalidBounds(ctx, min, max)) else Nil
}
/** enum membership. */
final case class ElemEnum(values: Seq[Any]) extends ElemPred {
  def ok(x: Column) = x.isin(values: _*)
  def describe = s"in {${values.take(8).mkString(",")}${if (values.size > 8) ",…" else ""}}"
  def needs = "any"
  override def selfCheck(ctx: String) =
    if (values.isEmpty) List(SuiteError.EmptyEnum(ctx)) else Nil
}
/** pattern (find-anywhere, like the reference's Regex::is_match). */
final case class ElemPatternPred(pattern: String) extends ElemPred {
  def ok(x: Column) = x.rlike(pattern)
  def describe = s"matches $pattern"
  def needs = "string"
  override def selfCheck(ctx: String) =
    scala.util.Try(java.util.regex.Pattern.compile(pattern)) match {
      case scala.util.Failure(e) => List(SuiteError.InvalidPattern(pattern, e.getMessage))
      case _ => Nil
    }
}
/** minLength/maxLength in characters. */
final case class ElemLengthPred(min: Option[Int], max: Option[Int]) extends ElemPred {
  def ok(x: Column) = {
    val n = length(x)
    min.map(a => n >= a).getOrElse(lit(true)) && max.map(b => n <= b).getOrElse(lit(true))
  }
  def describe = s"length in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  def needs = "string"
  override def selfCheck(ctx: String) = (min, max) match {
    case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(ctx, a, b))
    case _ => Nil
  }
}

/** C13 GENERAL form — `contains` with a full subschema (the reference
  * validates every element against the contains-SCHEMA and requires ≥1 to
  * pass, `schema.rs:698-706`; MustContain error at the sequence's end,
  * `schema.rs:773-784`): at least one element must satisfy ALL of `preds`.
  * One `exists()` per row — short-circuits on the first match, no explode.
  * Null elements never match (a corrupt slot can't witness containment);
  * a null ARRAY passes, per the engine's null stance. */
final case class ArrayContainsSchema(col: String, preds: Seq[ElemPred]) extends RowConstraint {
  import Constraints._
  val id = s"containsSchema($col)"
  def selfCheck(s: StructType) = {
    val needsNum = preds.exists(_.needs == "numeric")
    val needsStr = preds.exists(_.needs == "string")
    val base =
      if (preds.isEmpty) List(SuiteError.EmptyEnum(id))
      else if (needsNum && needsStr)
        // no element type satisfies both — compiling it would run rlike over
        // stringified numbers (or bounds over parsed strings): silent
        // mis-validation, the exact failure mode this engine errors on
        List(SuiteError.Unsupported(id,
          "contains schema mixes numeric (minimum/maximum) and string (pattern/length) element keywords"))
      else if (needsNum) requireNumericArray(s, col, id)
      else if (needsStr) requireStringArray(s, col, id)
      else requireArray(s, col, id)
    // enum values must be comparable to the element type — an int-array
    // contains-enum of strings would silently never match
    val enumErrs = Constraints.fieldType(s, col) match {
      case Some(ArrayType(et, _)) =>
        preds.toList.collect { case ElemEnum(vs) =>
          val ok = et match {
            case _: NumericType => vs.forall(_.isInstanceOf[Number])
            case StringType => vs.forall(_.isInstanceOf[String])
            case BooleanType => vs.forall(_.isInstanceOf[Boolean])
            case _ => true
          }
          if (ok) Nil
          else List(SuiteError.Unsupported(id,
            s"contains enum values do not match element type ${et.simpleString}"))
        }.flatten
      case _ => Nil
    }
    base ++ enumErrs ++ preds.toList.flatMap(_.selfCheck(id))
  }
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) =
    coalesce(preds.map(_.ok(x)).reduceOption(_ && _).getOrElse(lit(true)), lit(false))
  def pred = c.isNull || coalesce(exists(c, elemOk _), lit(false))
  protected def pathStr = col
  protected def boundStr = s"must contain elem ${preds.map(_.describe).mkString(" and ")}"
  protected def actualCol = slice(c, 1, 8).cast(StringType)
}

/** C15/C16 minItems/maxItems (schema.rs:787-805). */
final case class ArraySizeBounds(col: String, min: Option[Int] = None, max: Option[Int] = None)
    extends RowConstraint {
  val id = s"sizeBounds($col)"
  def selfCheck(s: StructType) =
    Constraints.requireArray(s, col, id) ++
      ((min, max) match {
        case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(id, a, b))
        case _ => Nil
      })
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = {
    val n = size(c)
    val lo = min.map(a => n >= a).getOrElse(lit(true))
    val hi = max.map(b => n <= b).getOrElse(lit(true))
    c.isNull || (lo && hi)
  }
  protected def pathStr = col
  protected def boundStr = s"size in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  protected def actualCol = size(org.apache.spark.sql.functions.col(col))
}

/** C14 uniqueItems WITHIN one array (schema.rs:738-755). The reference builds
  * a per-array hash set; columnar equivalent is size == size(array_distinct).
  * Violations carry the reference's NotUnique span pair (schema.rs:744-752):
  * one entry per DUPLICATE occurrence at path `col.<i>`, with the first
  * occurrence's index in the bound — pay-per-defect like ArrayElemRange.
  * Null elements are not compared (array_position skips null). */
final case class ArrayUniqueItems(col: String) extends RowConstraint {
  import Constraints._
  val id = s"uniqueItems($col)"
  def selfCheck(s: StructType) = Constraints.requireArray(s, col, id)
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = c.isNull || size(c) === size(array_distinct(c))
  override def vios: Column = {
    // duplicate occurrence ⇔ first index of the value (1-based array_position
    // minus 1) is strictly before this element's own index
    val firstIdx = (s: Column) => array_position(c, s.getField("v")) - 1
    val dups = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => coalesce(firstIdx(s) < s.getField("i"), lit(false)))
    val entries = transform(dups, (s: Column) =>
      entryC(id,
        concat(lit(col + "."), s.getField("i").cast(StringType)),
        concat(lit(s"duplicate of $col."), firstIdx(s).cast(StringType)),
        s.getField("v")))
    // NULL duplicates have no array_position span (comparisons are null) —
    // fall back to one row-level entry so a failing flag ALWAYS has a
    // violation row (report and violations frame must never disagree)
    val withFallback = when(size(entries) > 0, entries)
      .otherwise(array(entry(id, lit(col), boundStr, actualCol)))
    when(coalesce(pred, lit(false)), noVios).otherwise(withFallback).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = "all elements distinct"
  protected def actualCol = (size(c) - size(array_distinct(c))).cast(StringType)
}

/** North-rule length-consistency invariant: size(tokens) == n_tok. */
final case class LengthConsistent(arrCol: String, lenCol: String) extends RowConstraint {
  val id = s"lengthConsistent($arrCol,$lenCol)"
  def selfCheck(s: StructType) =
    Constraints.requireArray(s, arrCol, id) ++ Constraints.requireNumeric(s, lenCol, id)
  def pred = {
    val a = org.apache.spark.sql.functions.col(arrCol)
    val n = org.apache.spark.sql.functions.col(lenCol)
    a.isNull || n.isNull || size(a) === n
  }
  protected def pathStr = arrCol
  protected def boundStr = s"size($arrCol) == $lenCol"
  protected def actualCol =
    concat(size(org.apache.spark.sql.functions.col(arrCol)).cast(StringType), lit(" != "),
      org.apache.spark.sql.functions.col(lenCol).cast(StringType))
}

// ---------------------------------------------------------------------------
// Token-layout leaves: the structural invariants of RIGHT-PADDED training
// sequences ([content..., EOS, PAD*]) that positional checks can't express —
// the pad boundary is per-row dynamic, so "element at index i" never reaches
// it. All three ride the one-pass zero-allocation kernels in
// graft.functions (ArrayCountEq / ArrayPadSuffixOk / ArrayLastNotEq); no
// array copies, no HOF lambdas, whole-stage codegen throughout. Integral
// element types only (exact token-id equality; see requireIntegralArray).
// ---------------------------------------------------------------------------

/** Pad tokens may only form a contiguous suffix: a pad followed by any
  * non-pad (or null) element is corruption — a truncated write, a bad
  * packing merge, or a detokenizer bug. Empty, all-pad, and pad-free arrays
  * all pass; a null array passes (assert presence with NonNull). */
final case class PadSuffixOnly(col: String, pad: Long) extends RowConstraint {
  val id = s"padSuffix($col)"
  def selfCheck(s: StructType) = Constraints.requireIntegralArray(s, col, id)
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = c.isNull || graft.functions.VecFunctions.array_pad_suffix_ok(c, pad)
  protected def pathStr = col
  protected def boundStr = s"pad $pad only as suffix"
  protected def actualCol = slice(c, 1, 8).cast(StringType)
}

/** The last REAL (non-pad) token must be `eos`: every sequence ends with an
  * end-of-sequence marker before padding begins. Arrays with no non-pad
  * element (empty / all-pad) FAIL — they contain no EOS to find. Null
  * elements are skipped by the kernel (their validity is elemRange's job);
  * a null array passes (leaf null-stance). */
final case class EndsWithToken(col: String, eos: Long, pad: Long) extends RowConstraint {
  val id = s"endsWith($col)"
  def selfCheck(s: StructType) =
    Constraints.requireIntegralArray(s, col, id) ++
      // eos == pad can never pass: the last-real scan skips every pad-valued
      // (= eos-valued) element, so the check would silently always fail
      (if (eos == pad)
         List(SuiteError.Unsupported(id, s"eos token $eos equals pad token — the check can never pass"))
       else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def lastReal = graft.functions.VecFunctions.array_last_not_eq(c, pad)
  def pred = c.isNull || coalesce(lastReal === eos, lit(false))
  protected def pathStr = col
  protected def boundStr = s"last non-pad token == $eos"
  protected def actualCol = coalesce(lastReal.cast(StringType), lit("<none>"))
}

/** Pad-aware length consistency: `lenCol` must equal the NON-PAD token
  * count — the padded-batch analog of [[LengthConsistent]] (which compares
  * against the raw array size and so can't validate fixed-width padded
  * layouts, where size(tokens) is the batch width, not the content length).
  * Either side null passes (assert presence separately). */
final case class PadAwareLength(arrCol: String, lenCol: String, pad: Long)
    extends RowConstraint {
  val id = s"padAwareLength($arrCol,$lenCol)"
  def selfCheck(s: StructType) =
    Constraints.requireIntegralArray(s, arrCol, id) ++ Constraints.requireNumeric(s, lenCol, id)
  private def a = org.apache.spark.sql.functions.col(arrCol)
  private def n = org.apache.spark.sql.functions.col(lenCol)
  private def nonPad = size(a).cast(LongType) - graft.functions.VecFunctions.array_count_eq(a, pad)
  def pred = a.isNull || n.isNull || nonPad === n.cast(LongType)
  protected def pathStr = arrCol
  protected def boundStr = s"non-pad count == $lenCol"
  protected def actualCol =
    concat(nonPad.cast(StringType), lit(" != "), n.cast(StringType))
}

/** Segment-structure check for PACKED sequences ([doc1..., EOS, doc2...,
  * EOS, ...]): every separator-delimited segment's length must be in
  * [minLen, maxLen]. minLen ≥ 1 rejects empty segments — consecutive
  * separators or a leading separator, the classic packing-merge bug;
  * maxLen bounds each packed document to the training context. Segments
  * are runs between separators plus a non-empty trailing run (an array
  * ending in a separator is fully terminated); a separator-free array is
  * ONE segment — the whole row. Null array passes (leaf null-stance). */
final case class SegmentLengthBounds(col: String, sep: Long, minLen: Long, maxLen: Long)
    extends RowConstraint {
  val id = s"segments($col)"
  def selfCheck(s: StructType) =
    Constraints.requireIntegralArray(s, col, id) ++
      (if (minLen > maxLen)
         List(SuiteError.InvalidBounds(id, minLen.toDouble, maxLen.toDouble))
       else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def badCount = graft.functions.VecFunctions.array_bad_segments(c, sep, minLen, maxLen)
  def pred = c.isNull || badCount === 0L
  protected def pathStr = col
  protected def boundStr = s"segments by $sep in [$minLen,$maxLen]"
  protected def actualCol = concat(badCount.cast(StringType), lit(" bad segments"))
}

// ---------------------------------------------------------------------------
// Map/object leaves (reference C17-C22) + static type check (C1)
// ---------------------------------------------------------------------------

/** C1 type check — static in a typed engine: the column's Catalyst type must
  * conform at COMPILE time (schema conformance); rows can never individually
  * fail it, exactly because Spark schemas are table-wide. Mismatch ⇒
  * compile-time SuiteError, the analog of `InvalidType` (errors.rs). */
final case class TypeIs(col: String, expected: DataType) extends RowConstraint {
  val id = s"type($col)"
  def selfCheck(s: StructType) = Constraints.fieldType(s, col) match {
    case None => List(SuiteError.UnknownColumn(col, id))
    case Some(dt) if DataType.equalsIgnoreNullability(dt, expected) => Nil
    case Some(dt) => List(SuiteError.TypeMismatch(col, expected.simpleString, dt, id))
  }
  def pred = lit(true) // statically proven
  protected def pathStr = col
  protected def boundStr = s"type ${expected.simpleString}"
  protected def actualCol = lit("")
}

/** C19 additionalProperties:false — every map key must be in the allowed set;
  * violations per unknown key with path `col.<key>` (UnknownProperty,
  * schema.rs:941-956). */
final case class MapKeysIn(col: String, allowed: Seq[String]) extends RowConstraint {
  import Constraints._
  val id = s"mapKeysIn($col)"
  def selfCheck(s: StructType) = Constraints.requireMap(s, col, id) ++
    (if (allowed.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def keyOk(k: Column) = k.isin(allowed: _*)
  def pred = c.isNull || forall(map_keys(c), keyOk _)
  override def vios: Column = {
    val bad = org.apache.spark.sql.functions.filter(map_keys(c), (k: Column) => !keyOk(k))
    val entries = transform(bad, (k: Column) =>
      entry(id, concat(lit(col + "."), k), s"keys in {${allowed.mkString(",")}}", lit("unknown property")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"keys in {${allowed.mkString(",")}}"
  protected def actualCol = c.cast(StringType)
}

/** C21 required for map columns — one violation per missing key, path
  * `col.<key>` (RequiredProperty, schema.rs:992-998). */
final case class MapRequiredKeys(col: String, required: Seq[String]) extends RowConstraint {
  import Constraints._
  val id = s"mapRequired($col)"
  def selfCheck(s: StructType) = Constraints.requireMap(s, col, id) ++
    (if (required.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = c.isNull ||
    required.map(k => map_contains_key(c, k)).reduceOption(_ && _).getOrElse(lit(true))
  override def vios: Column = {
    val missing = org.apache.spark.sql.functions.filter(
      array(required.map(lit): _*), (k: Column) => !map_contains_key(c, k))
    val entries = transform(missing, (k: Column) =>
      entry(id, concat(lit(col + "."), k), "required", lit("missing")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"required {${required.mkString(",")}}"
  protected def actualCol = c.cast(StringType)
}

/** C22 minProperties/maxProperties (schema.rs:971-989). */
final case class MapSizeBounds(col: String, min: Option[Int] = None, max: Option[Int] = None)
    extends RowConstraint {
  val id = s"mapSize($col)"
  def selfCheck(s: StructType) = Constraints.requireMap(s, col, id) ++
    ((min, max) match {
      case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(id, a, b))
      case _ => Nil
    })
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = {
    val n = size(map_keys(c))
    val lo = min.map(a => n >= a).getOrElse(lit(true))
    val hi = max.map(b => n <= b).getOrElse(lit(true))
    c.isNull || (lo && hi)
  }
  protected def pathStr = col
  protected def boundStr = s"properties in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  protected def actualCol = size(map_keys(org.apache.spark.sql.functions.col(col))).cast(StringType)
}

/** C20 propertyNames — every key matches a regex (schema.rs:874-883).
  * Regex validated once at compile time (unlike the reference's per-key
  * recompilation, schema.rs:915). */
final case class MapKeyPattern(col: String, pattern: String) extends RowConstraint {
  import Constraints._
  val id = s"mapKeyPattern($col)"
  def selfCheck(s: StructType) = {
    val t = Constraints.requireMap(s, col, id)
    t ++ (scala.util.Try(java.util.regex.Pattern.compile(pattern)) match {
      case scala.util.Failure(e) => List(SuiteError.InvalidPattern(pattern, e.getMessage))
      case _ => Nil
    })
  }
  private def c = org.apache.spark.sql.functions.col(col)
  def pred = c.isNull || forall(map_keys(c), (k: Column) => k.rlike(pattern))
  override def vios: Column = {
    val bad = org.apache.spark.sql.functions.filter(map_keys(c), (k: Column) => !k.rlike(pattern))
    val entries = transform(bad, (k: Column) =>
      entry(id, concat(lit(col + "."), k), s"key pattern $pattern", k))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"key pattern $pattern"
  protected def actualCol = c.cast(StringType)
}

/** C20 propertyNames — general-schema completion: every key's CHARACTER
  * length within bounds (the reference routes names through a full schema,
  * schema.rs:874-883; length is the other expressible name keyword next to
  * pattern). Violations per offending key, path `col.<key>`. */
final case class MapKeyLength(col: String, min: Option[Int] = None, max: Option[Int] = None)
    extends RowConstraint {
  import Constraints._
  val id = s"mapKeyLength($col)"
  def selfCheck(s: StructType) = Constraints.requireMap(s, col, id) ++
    ((min, max) match {
      case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(id, a, b))
      case _ => Nil
    })
  private def c = org.apache.spark.sql.functions.col(col)
  private def keyOk(k: Column) = {
    val n = length(k)
    min.map(a => n >= a).getOrElse(lit(true)) && max.map(b => n <= b).getOrElse(lit(true))
  }
  def pred = c.isNull || forall(map_keys(c), keyOk _)
  override def vios: Column = {
    val bad = org.apache.spark.sql.functions.filter(map_keys(c), (k: Column) => !keyOk(k))
    val entries = transform(bad, (k: Column) =>
      entry(id, concat(lit(col + "."), k), boundStr, length(k)))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"key length in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  protected def actualCol = c.cast(StringType)
}

/** C17/C18 map-value constraint, optionally routed by key regex
  * (patternProperties, schema.rs:914-939): for every entry whose key matches
  * `keyPattern` (".*" = properties/all), the numeric value must lie in
  * [min,max]. Violations carry path `col.<key>`. */
final case class MapValueRange(col: String, keyPattern: String, min: Double, max: Double)
    extends RowConstraint {
  import Constraints._
  // id carries the key pattern: one schema routinely declares several
  // properties of the same map column, and duplicate ids fail suite compile
  val id = s"mapValueRange($col:$keyPattern)"
  def selfCheck(s: StructType) = {
    val t = Constraints.fieldType(s, col) match {
      case None => List(SuiteError.UnknownColumn(col, id))
      case Some(MapType(_, _: NumericType, _)) => Nil
      case Some(dt) => List(SuiteError.TypeMismatch(col, "map<_,numeric>", dt, id))
    }
    t ++ (if (min > max) List(SuiteError.InvalidBounds(id, min, max)) else Nil) ++
      (scala.util.Try(java.util.regex.Pattern.compile(keyPattern)) match {
        case scala.util.Failure(e) => List(SuiteError.InvalidPattern(keyPattern, e.getMessage))
        case _ => Nil
      })
  }
  private def c = org.apache.spark.sql.functions.col(col)
  private def vOk(v: Column) = v.cast(DoubleType) >= min && v.cast(DoubleType) <= max
  def pred = c.isNull ||
    coalesce(forall(map_entries(c), (e: Column) =>
      !e.getField("key").rlike(keyPattern) || vOk(e.getField("value"))), lit(false))
  override def vios: Column = {
    val bad = org.apache.spark.sql.functions.filter(map_entries(c), (e: Column) =>
      e.getField("key").rlike(keyPattern) && !coalesce(vOk(e.getField("value")), lit(false)))
    val entries = transform(bad, (e: Column) =>
      entry(id, concat(lit(col + "."), e.getField("key")), s"value in [$min,$max]", e.getField("value")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"value in [$min,$max]"
  protected def actualCol = c.cast(StringType)
}

// ---------------------------------------------------------------------------
// Combinators (reference K1-K5, schema.rs:180-343 — SURVEY.md §2.2)
// ---------------------------------------------------------------------------

/** K1 allOf: all children must pass; errors union (schema.rs:188-197). */
final case class All(name: String, cs: Seq[RowConstraint]) extends RowConstraint {
  val id = s"allOf($name)"
  def selfCheck(s: StructType) = cs.toList.flatMap(_.selfCheck(s))
  def pred = cs.map(_.pred).reduceOption(_ && _).getOrElse(lit(true))
  override def vios: Column =
    cs.map(_.vios).reduceOption(concat(_, _)).getOrElse(Constraints.noVios)
  protected def pathStr = ""
  protected def boundStr = "allOf"
  protected def actualCol = lit("")
}

/** K2 anyOf: ≥1 child must pass; on failure the reference's `NoneValid`
  * carries ALL inner error sets (schema.rs:199-237) — we emit every child's
  * violations plus one summary entry. */
final case class AnyOf(name: String, cs: Seq[RowConstraint]) extends RowConstraint {
  import Constraints._
  val id = s"anyOf($name)"
  def selfCheck(s: StructType) =
    (if (cs.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil) ++ cs.toList.flatMap(_.selfCheck(s))
  def pred = cs.map(_.pred).reduceOption(_ || _).getOrElse(lit(false))
  override def vios: Column = {
    val inner = cs.map(_.vios).reduceOption(concat(_, _)).getOrElse(noVios)
    when(!pred, concat(array(entry(id, lit(""), s"anyOf(${cs.map(_.id).mkString(",")})", lit("none valid"))), inner))
      .otherwise(noVios)
  }
  protected def pathStr = ""
  protected def boundStr = "anyOf"
  protected def actualCol = lit("")
}

/** K3 oneOf: exactly one child passes; 0 ⇒ NoneValid{exclusive}, >1 ⇒
  * MoreThanOneValid (schema.rs:239-292). */
final case class OneOf(name: String, cs: Seq[RowConstraint]) extends RowConstraint {
  import Constraints._
  val id = s"oneOf($name)"
  def selfCheck(s: StructType) =
    (if (cs.isEmpty) List(SuiteError.EmptyEnum(id)) else Nil) ++ cs.toList.flatMap(_.selfCheck(s))
  private def nValid = cs.map(_.pred.cast(IntegerType)).reduceOption(_ + _).getOrElse(lit(0))
  def pred = nValid === 1
  override def vios: Column =
    when(!pred,
      array(entry(id, lit(""), s"exactly one of (${cs.map(_.id).mkString(",")})",
        concat(nValid.cast(StringType), lit(" valid"))))).otherwise(noVios)
  protected def pathStr = ""
  protected def boundStr = "oneOf"
  protected def actualCol = lit("")
}

/** K5 not: child must NOT pass (schema.rs:316-333, ValidNot). */
final case class NotC(name: String, c: RowConstraint) extends RowConstraint {
  val id = s"not($name)"
  def selfCheck(s: StructType) = c.selfCheck(s)
  def pred = !c.pred
  protected def pathStr = ""
  protected def boundStr = s"not(${c.id})"
  protected def actualCol = lit("matched")
}

/** K4 if/then/else (schema.rs:294-314). */
final case class IfThenElse(name: String, i: RowConstraint, t: RowConstraint,
    e: Option[RowConstraint] = None) extends RowConstraint {
  import Constraints._
  val id = s"if($name)"
  def selfCheck(s: StructType) =
    i.selfCheck(s) ++ t.selfCheck(s) ++ e.map(_.selfCheck(s)).getOrElse(Nil)
  def pred = when(i.pred, t.pred).otherwise(e.map(_.pred).getOrElse(lit(true)))
  override def vios: Column =
    when(i.pred, t.vios).otherwise(e.map(_.vios).getOrElse(noVios))
  protected def pathStr = ""
  protected def boundStr = "if/then/else"
  protected def actualCol = lit("")
}

/** K7 external-tag dispatch (schema.rs:614-660): a tag column's value selects
  * which sub-constraint applies. Unknown tags are PERMISSIVE, matching the
  * reference's `tagged_allow` fallback for unknown variants. Null tag is
  * treated as unknown (permissive) — pair with NonNull(tagCol) to forbid. */
final case class TagDispatch(name: String, tagCol: String,
    cases: Map[String, RowConstraint]) extends RowConstraint {
  import Constraints._
  val id = s"tag($name)"
  def selfCheck(s: StructType) =
    Constraints.requireCol(s, tagCol, id) ++ cases.values.toList.flatMap(_.selfCheck(s))
  private def tag = org.apache.spark.sql.functions.col(tagCol)
  // deterministic case order for reproducible plans
  private def ordered = cases.toSeq.sortBy(_._1)
  def pred = ordered.foldRight(lit(true): Column) { case ((t, c), acc) =>
    when(tag === t, c.pred).otherwise(acc)
  }
  override def vios: Column = ordered.foldRight(noVios) { case ((t, c), acc) =>
    when(tag === t, c.vios).otherwise(acc)
  }
  protected def pathStr = tagCol
  protected def boundStr = s"dispatch on $tagCol"
  protected def actualCol = tag
}

/** C12 positional items (tuple schema, schema.rs:718-735): element at 1-based
  * `pos` must lie in [min,max]. Elements PAST the positional prefix are
  * bounded by [[ArrayTailRange]] (the additionalItems analog). Missing
  * position passes (arrays shorter than pos are a size concern — C15/C16). */
final case class ArrayElemAtRange(col: String, pos: Int, min: Double, max: Double)
    extends RowConstraint {
  val id = s"elemAt($col.$pos)"
  def selfCheck(s: StructType) =
    Constraints.requireNumericArray(s, col, id) ++
      (if (min > max) List(SuiteError.InvalidBounds(id, min, max)) else Nil) ++
      (if (pos < 1) List(SuiteError.Unsupported(id, s"pos=$pos (1-based)")) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def v = element_at(c, pos)
  def pred = c.isNull || size(c) < pos ||
    coalesce(v.cast(DoubleType) >= min && v.cast(DoubleType) <= max, lit(false))
  protected def pathStr = s"$col.${pos - 1}" // dotted span uses 0-based index (Keys)
  protected def boundStr = s"elem@$pos in [$min,$max]"
  protected def actualCol = v
}

/** C12 completion — `additionalItems` (schema.rs:727-735): every element PAST
  * the positional prefix (1-based positions ≥ `fromPos`) must lie in
  * [min,max]. Per-element spans `col.<i>` like ArrayElemRange, pay-per-defect.
  * Null tail elements are violations (corrupt data), mirroring ArrayElemRange. */
final case class ArrayTailRange(col: String, fromPos: Int, min: Double, max: Double)
    extends RowConstraint {
  import Constraints._
  val id = s"elemTail($col.$fromPos+)"
  def selfCheck(s: StructType) =
    requireNumericArray(s, col, id) ++
      (if (min > max) List(SuiteError.InvalidBounds(id, min, max)) else Nil) ++
      (if (fromPos < 1) List(SuiteError.Unsupported(id, s"fromPos=$fromPos (1-based)")) else Nil)
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) = x.cast(DoubleType) >= min && x.cast(DoubleType) <= max
  // hot path: native loop over the (copy-free beyond the slice) tail; arrays
  // shorter than the prefix have an empty tail and trivially pass
  def pred = c.isNull ||
    graft.functions.VecFunctions.array_all_in_range(
      slice(c, lit(fromPos), greatest(size(c), lit(0))), min, max)
  override def vios: Column = {
    val failIdx = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => s.getField("i") >= fromPos - 1 &&
        !coalesce(elemOk(s.getField("v")), lit(false)))
    val entries = transform(failIdx, (s: Column) =>
      entry(id, concat(lit(col + "."), s.getField("i").cast(StringType)), boundStr, s.getField("v")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"elem@>=$fromPos in [$min,$max]"
  protected def actualCol = c
}

/** C11 for string arrays — items.pattern: every element matches the regex.
  * Null elements are violations. Regex compiled once at suite-compile. */
final case class ArrayElemPattern(col: String, pattern: String) extends RowConstraint {
  import Constraints._
  val id = s"elemPattern($col)"
  def selfCheck(s: StructType) =
    requireStringArray(s, col, id) ++
      (scala.util.Try(java.util.regex.Pattern.compile(pattern)) match {
        case scala.util.Failure(e) => List(SuiteError.InvalidPattern(pattern, e.getMessage))
        case _ => Nil
      })
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) = coalesce(x.rlike(pattern), lit(false))
  def pred = c.isNull || coalesce(forall(c, elemOk _), lit(false))
  override def vios: Column = {
    val failIdx = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => !elemOk(s.getField("v")))
    val entries = transform(failIdx, (s: Column) =>
      entry(id, concat(lit(col + "."), s.getField("i").cast(StringType)), boundStr, s.getField("v")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"elem pattern $pattern"
  protected def actualCol = c.cast(StringType)
}

/** C11 for string arrays — items.minLength/maxLength: every element's char
  * length within bounds. Null elements are violations. */
final case class ArrayElemLength(col: String, min: Option[Int] = None, max: Option[Int] = None)
    extends RowConstraint {
  import Constraints._
  val id = s"elemLength($col)"
  def selfCheck(s: StructType) =
    requireStringArray(s, col, id) ++
      ((min, max) match {
        case (Some(a), Some(b)) if a > b => List(SuiteError.InvalidBounds(id, a, b))
        case _ => Nil
      })
  private def c = org.apache.spark.sql.functions.col(col)
  private def elemOk(x: Column) = {
    val n = length(x)
    val lo = min.map(a => n >= a).getOrElse(lit(true))
    val hi = max.map(b => n <= b).getOrElse(lit(true))
    coalesce(lo && hi, lit(false))
  }
  def pred = c.isNull || coalesce(forall(c, elemOk _), lit(false))
  override def vios: Column = {
    val failIdx = org.apache.spark.sql.functions.filter(
      transform(c, (x: Column, i: Column) => struct(x.as("v"), i.as("i"))),
      (s: Column) => !elemOk(s.getField("v")))
    val entries = transform(failIdx, (s: Column) =>
      entry(id, concat(lit(col + "."), s.getField("i").cast(StringType)), boundStr, s.getField("v")))
    when(coalesce(pred, lit(false)), noVios).otherwise(entries).cast(vioArrayType)
  }
  protected def pathStr = col
  protected def boundStr = s"elem length in [${min.getOrElse(0)},${max.map(_.toString).getOrElse("inf")}]"
  protected def actualCol = c.cast(StringType)
}

/** C1 `type` keyword, JSON-Schema-typed — the loader's counterpart of
  * [[TypeIs]]: the column's Catalyst type must CONFORM to ≥1 of the declared
  * JSON types (reference `check_type!` dispatch, macros.rs:26-114 +
  * schema.rs:390-612; type arrays per draft-07). Static: Spark schemas are
  * table-wide, so a mismatch is a compile-time SuiteError (InvalidType
  * analog), never a per-row violation. `element=true` checks the ELEMENT
  * type of an array column (items.type). */
final case class JsonTypeIs(col: String, jsonTypes: Seq[String],
    element: Boolean = false, mapValue: Boolean = false) extends RowConstraint {
  // element/mapValue ids carry the type set: one column can legitimately
  // accumulate several such checks (tuple positions, several map properties)
  // and duplicate ids fail suite compile
  val id =
    if (element) s"elemType($col:${jsonTypes.mkString("|")})"
    else if (mapValue) s"mapValueType($col:${jsonTypes.mkString("|")})"
    else s"type($col)"
  def selfCheck(s: StructType) = {
    val unknown = jsonTypes.filterNot(Constraints.jsonTypeNames)
    if (jsonTypes.isEmpty) List(SuiteError.EmptyEnum(id))
    else if (element && mapValue) List(SuiteError.Unsupported(id, "element and mapValue both set"))
    else if (unknown.nonEmpty)
      List(SuiteError.Unsupported(id, s"unknown JSON type(s): ${unknown.mkString(",")}"))
    else Constraints.fieldType(s, col) match {
      case None => List(SuiteError.UnknownColumn(col, id))
      case Some(dt0) =>
        val target: Either[SuiteError, DataType] =
          if (element) dt0 match {
            case ArrayType(et, _) => Right(et)
            case other => Left(SuiteError.TypeMismatch(col, "array", other, id))
          }
          else if (mapValue) dt0 match {
            case MapType(_, vt, _) => Right(vt)
            case other => Left(SuiteError.TypeMismatch(col, "map", other, id))
          }
          else Right(dt0)
        target match {
          case Left(e) => List(e)
          case Right(dt) =>
            if (jsonTypes.exists(Constraints.jsonTypeConforms(dt, _))) Nil
            else List(SuiteError.TypeMismatch(col, jsonTypes.mkString("|"), dt, id))
        }
    }
  }
  def pred = lit(true) // statically proven at compile time
  protected def pathStr = col
  protected def boundStr = s"type ${jsonTypes.mkString("|")}"
  protected def actualCol = lit("")
}

/** C19 `additionalProperties: false` for STATICALLY-keyed objects: the root
  * table (`col = ""`) or a struct column. Every present field must be
  * declared — decided at compile time (the C1 stance: Spark schemas are
  * table-wide, so UnknownProperty is a compile error here; the reference
  * raises it per value, schema.rs:941-956). Dynamic maps use [[MapKeysIn]]. */
final case class StructKeysIn(col: String, allowed: Seq[String]) extends RowConstraint {
  val id = if (col.isEmpty) "structKeys(<root>)" else s"structKeys($col)"
  def selfCheck(s: StructType) = {
    val fieldsE: Either[List[SuiteError], Seq[String]] =
      if (col.isEmpty) Right(s.fieldNames.toSeq)
      else Constraints.fieldType(s, col) match {
        case None => Left(List(SuiteError.UnknownColumn(col, id)))
        case Some(st: StructType) => Right(st.fieldNames.toSeq)
        case Some(dt) => Left(List(SuiteError.TypeMismatch(col, "struct", dt, id)))
      }
    fieldsE match {
      case Left(es) => es
      case Right(fields) =>
        val allowedSet = allowed.toSet
        fields.filterNot(allowedSet).toList.map(f =>
          SuiteError.Unsupported(id,
            s"undeclared property '${if (col.isEmpty) f else s"$col.$f"}' (additionalProperties: false)"))
    }
  }
  def pred = lit(true) // statically proven at compile time
  protected def pathStr = col
  protected def boundStr = s"properties in {${allowed.mkString(",")}}"
  protected def actualCol = lit("")
}

/** K6 $ref analog: resolved from the suite's definitions map at compile time
  * (pure substitution, schema.rs:124-150; missing name ⇒ MissingDefinition,
  * errors.rs:169-181). */
final case class NamedRef(name: String) extends RowConstraint {
  val id = s"ref($name)"
  def selfCheck(s: StructType) = List(SuiteError.MissingDefinition(name)) // unresolved ⇒ error
  def pred = lit(false)
  protected def pathStr = ""
  protected def boundStr = s"ref $name"
  protected def actualCol = lit("")
}

// ---------------------------------------------------------------------------
// Cross-row constraints (shuffle-bearing; SURVEY.md §2.4)
// ---------------------------------------------------------------------------

/** Cross-row constraint: owns its shuffle, returns a violations DataFrame
  * with columns (constraint_id, path, bound, actual, key). */
sealed trait AggConstraint extends Constraint {
  def selfCheck(schema: StructType): List[SuiteError]
  /** Returns violation rows: (constraint_id, path, bound, actual, key:string). */
  def run(df: DataFrame): DataFrame
}

/** Cross-row uniqueness on a key column (reference C14 generalized across
  * rows per the north rule). Hash-partitioned groupBy; Spark's two-phase
  * HashAggregate does map-side partial counting, so a hot key contributes at
  * most one partial row per map task — the skew-safe plan without explicit
  * salting. `salted=true` adds an explicit two-phase (key, salt) pre-count
  * for adversarial skew: equal keys get equal final placement because phase 2
  * re-groups by key alone; phase 1 splits a hot key's partials across
  * reducers via a deterministic row-hash salt. */
final case class Unique(col: String, salted: Boolean = false, saltBuckets: Int = 64)
    extends AggConstraint {
  val id = s"unique($col)"
  def selfCheck(s: StructType) = Constraints.requireCol(s, col, id)
  def run(df: DataFrame): DataFrame = {
    val key = org.apache.spark.sql.functions.col(col)
    val counts =
      if (!salted) {
        df.filter(key.isNotNull).groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
      } else {
        // Phase 1: count per (key, salt); Phase 2: sum per key. The salt is
        // derived from (key, map partition id) — NOT the round-5 full-row
        // hash, which (a) forced every column of the table through the scan
        // (ReadSchema was the whole row; now just the key — guide §2.3
        // "shuffle fewer bytes" at the scan) and (b) silently failed to
        // spread bit-identical duplicate rows (identical rows hash
        // identically). Partition-id salting sends each map task's partial
        // row for a hot key to its own reducer, spreads even identical
        // copies, and is retry/speculation-stable (a re-run task keeps its
        // partition id — no SPARK-38388-style key nondeterminism). The salt
        // never reaches the output: phase 2 re-groups by key alone.
        val salt = pmod(xxhash64(key, spark_partition_id()), lit(saltBuckets))
        df.filter(key.isNotNull)
          .groupBy(key.as("key"), salt.as("salt")).agg(count(lit(1)).as("c1"))
          .groupBy(org.apache.spark.sql.functions.col("key")).agg(sum("c1").as("cnt"))
      }
    counts.filter(org.apache.spark.sql.functions.col("cnt") > 1)
      .select(
        lit(id).as("constraint_id"),
        lit(col).as("path"),
        lit("unique").as("bound"),
        concat(lit("count="), org.apache.spark.sql.functions.col("cnt").cast(StringType)).as("actual"),
        org.apache.spark.sql.functions.col("key").as("key"))
  }
}

/** Cross-row uniqueness on a COMPOSITE key — [[Unique]] generalized to a
  * column tuple (the natural key of most fact tables is (entity, seq), not
  * a single column; [[Suggest.compositeKeys]] discovers these). SQL UNIQUE
  * null semantics: a row with ANY null component is exempt (it carries no
  * complete key). Same skew contract as [[Unique]]: two-phase
  * HashAggregate partial counting by default, explicit row-hash salting
  * for adversarial skew. The violation `key` renders the tuple as
  * '|'-joined values (display only — grouping is on the typed columns, so
  * a '|' inside a value can never merge two distinct keys). */
final case class UniqueTuple(cols: Seq[String], salted: Boolean = false,
    saltBuckets: Int = 64) extends AggConstraint {
  require(cols.nonEmpty, "UniqueTuple needs at least one column")
  require(cols.distinct.size == cols.size, s"UniqueTuple: duplicate columns in $cols")
  val id = s"unique(${cols.mkString(",")})"
  def selfCheck(s: StructType) =
    cols.toList.flatMap(c => Constraints.requireCol(s, c, id))
  def run(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val complete = cols.map(c(_).isNotNull).reduce(_ && _)
    val keyCols = cols.map(c)
    val counts =
      if (!salted) {
        df.filter(complete).groupBy(keyCols: _*).agg(count(lit(1)).as("cnt"))
      } else {
        // (key, partition id) salt — same derivation and rationale as
        // [[Unique]]: key-only ReadSchema, spreads identical rows,
        // retry-stable, and phase 2 re-groups by the key alone.
        val salt = pmod(xxhash64(keyCols :+ spark_partition_id(): _*), lit(saltBuckets))
        df.filter(complete)
          .groupBy(keyCols :+ salt.as("__salt"): _*).agg(count(lit(1)).as("c1"))
          .groupBy(keyCols: _*).agg(sum("c1").as("cnt"))
      }
    counts.filter(c("cnt") > 1)
      .select(
        lit(id).as("constraint_id"),
        lit(cols.mkString(",")).as("path"),
        lit("unique").as("bound"),
        concat(lit("count="), c("cnt").cast(StringType)).as("actual"),
        concat_ws("|", keyCols.map(_.cast(StringType)): _*).as("key"))
  }
}

/** Referential integrity: fact.col ⊆ dim.dimCol. Violations via LEFT ANTI
  * join — broadcast when the dim is small (the common case for a sources
  * dimension), sort-merge + AQE skew handling otherwise (SURVEY.md §2.4). */
final case class RefIntegrity(col: String, dim: DataFrame, dimCol: String,
    broadcastDim: Boolean = true) extends AggConstraint {
  val id = s"ref($col->$dimCol)"
  def selfCheck(s: StructType) =
    Constraints.requireCol(s, col, id) ++
      (if (dim.schema.fieldNames.contains(dimCol)) Nil
       else List(SuiteError.UnknownColumn(dimCol, s"$id (dimension)")))
  def run(df: DataFrame): DataFrame = {
    val d0 = dim.select(org.apache.spark.sql.functions.col(dimCol).as("__dim_key")).distinct()
    val d = if (broadcastDim) broadcast(d0) else d0
    df.filter(org.apache.spark.sql.functions.col(col).isNotNull)
      .join(d, org.apache.spark.sql.functions.col(col) === org.apache.spark.sql.functions.col("__dim_key"), "left_anti")
      .groupBy(org.apache.spark.sql.functions.col(col).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        lit(id).as("constraint_id"),
        lit(col).as("path"),
        lit(s"in dim.$dimCol").as("bound"),
        concat(lit("orphan rows="), org.apache.spark.sql.functions.col("cnt").cast(StringType)).as("actual"),
        org.apache.spark.sql.functions.col("key").as("key"))
  }
}

/** [[RefIntegrity]] with the dimension named by a TABLE PATH through the
  * [[TableIO]] seam instead of an embedded DataFrame — the fully
  * SERIALIZABLE referential check ([[JsonSchemaRender]] freezes it to
  * config; an embedded frame has no config form). The dimension loads
  * lazily inside `run`, so a frozen suite revalidates against the dimension
  * AS OF the run, not as of authoring — exactly what a daily pipeline
  * wants. Dimension problems (missing path, missing `dimCol`) surface
  * loudly at run; `selfCheck` can only see the fact table's schema. */
final case class RefIntegrityTable(col: String, dimPath: String, dimCol: String,
    broadcastDim: Boolean = true, format: String = TableIO.defaultFormat)
    extends AggConstraint {
  val id = s"refTable($col->$dimCol)"
  def selfCheck(s: StructType) = Constraints.requireCol(s, col, id)
  def run(df: DataFrame): DataFrame = {
    val dim = TableIO(format).read(df.sparkSession, dimPath)
    RefIntegrity(col, dim, dimCol, broadcastDim).run(df)
      .withColumn("constraint_id", lit(id))
      .withColumn("bound", lit(s"in $dimPath#$dimCol"))
  }
}

/** STATISTICAL gate: at least `minPassFp`/10^6 of rows must satisfy the
  * inner row constraint (Deequ's `compliance` — the "98% of rows have a
  * valid email" stance, vs the all-rows-or-violate leaf stance). With
  * `groupBy` the rate is judged PER GROUP, so one rotten source breaches
  * while the table-wide rate still looks fine. Rates are EXACT fixed-point
  * (×10^6, DECIMAL(38,0) floor division) — reproducible across engines.
  * An empty table (or absent group) is vacuously compliant.
  *
  * Scale: one partial-agg'd groupBy — two LONGs per group cross the wire,
  * the inner predicate runs codegen'd in the scan projection. */
final case class Compliance(inner: RowConstraint, minPassFp: Long,
    groupBy: Option[String] = None) extends AggConstraint {
  val id = groupBy match {
    case Some(g) => s"compliance(${inner.id} by $g)"
    case None => s"compliance(${inner.id})"
  }
  def selfCheck(s: StructType): List[SuiteError] =
    inner.selfCheck(s) ++
      groupBy.toList.flatMap(g => Constraints.requireCol(s, g, id)) ++
      (if (minPassFp < 0 || minPassFp > 1000000L)
        List(SuiteError.Unsupported(id, s"minPassFp=$minPassFp not in [0, 10^6]")) else Nil)
  def run(df: DataFrame): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    val key = groupBy.map(g => c(g).cast(StringType)).getOrElse(lit("<table>"))
    Sequential.passRate(df, inner.pred, key)
      .filter(c("pass_fp") < minPassFp)
      .select(
        lit(id).as("constraint_id"),
        lit(inner.id).as("path"),
        lit(s"pass rate >= $minPassFp/10^6").as("bound"),
        concat(lit("pass_fp="), c("pass_fp").cast(StringType),
          lit(" ("), c("n_pass").cast(StringType), lit(" of "),
          c("n").cast(StringType), lit(")")).as("actual"),
        c("key"))
  }
}

/** SEQUENTIAL gate: within each group, `valueCol` must be monotone along
  * `orderCol` (non-decreasing; `strict = true` for strictly increasing) —
  * "a user's event timestamps never go backward along the event counter".
  * Order-column ties pass iff SOME ordering of the tied rows is monotone
  * (see [[Sequential.monotonicBreaks]]); rows with null group/order/value
  * are excluded from the series (assert presence with [[NonNull]]).
  * One violation row PER GROUP (pay-per-defect), carrying the break count
  * and the first break.
  *
  * Scale: one hash exchange on the group + one sort — the floor for any
  * per-group order-dependent semantics. */
final case class MonotonicWithin(groupCol: String, orderCol: String,
    valueCol: String, strict: Boolean = false) extends AggConstraint {
  private def cmp = if (strict) "<" else "<="
  val id = s"monotonic($valueCol $cmp next by $orderCol within $groupCol)"
  def selfCheck(s: StructType): List[SuiteError] = {
    val known = Seq(groupCol, orderCol, valueCol)
      .flatMap(Constraints.requireCol(s, _, id)).toList
    if (known.nonEmpty) known
    else if (Seq(groupCol, orderCol, valueCol).distinct.size != 3)
      List(SuiteError.Unsupported(id, "group/order/value must be distinct columns"))
    else Seq(orderCol, valueCol).flatMap { cName =>
      Constraints.fieldType(s, cName).get match {
        case _: NumericType | TimestampType | TimestampNTZType | DateType |
             StringType | BooleanType => Nil
        case dt => List(SuiteError.TypeMismatch(cName, "orderable atomic", dt, id))
      }
    }.toList
  }
  def run(df: DataFrame): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    Sequential.monotonicBreaks(df, groupCol, orderCol, valueCol, strict)
      .select(
        lit(id).as("constraint_id"),
        lit(valueCol).as("path"),
        lit(s"monotone ($cmp) along $orderCol").as("bound"),
        concat(lit("breaks="), c("n_breaks").cast(StringType),
          lit(" first at "), lit(orderCol), lit("="),
          coalesce(c("break_order").cast(StringType), lit("<null>")),
          lit(": "), coalesce(c("prev_value").cast(StringType), lit("<null>")),
          lit(" -> "), coalesce(c("value").cast(StringType), lit("<null>"))).as("actual"),
        c(groupCol).cast(StringType).as("key"))
  }
}

/** Distribution-drift check: per-group chi-square of a binned numeric column
  * against the pooled (all-groups) distribution. One scan counts each
  * (group, bin) cell; the ≤ groups×bins cells are gathered into one row and
  * finished in one walk ([[Drift.chiSquare]]). Groups whose χ² exceeds
  * `threshold` violate. */
final case class DriftChiSquare(valueCol: String, groupCol: String, binWidth: Double,
    threshold: Double) extends AggConstraint {
  val id = s"drift($valueCol by $groupCol)"
  def selfCheck(s: StructType) =
    Constraints.requireNumeric(s, valueCol, id) ++ Constraints.requireCol(s, groupCol, id) ++
      (if (binWidth <= 0) List(SuiteError.Unsupported(id, s"binWidth=$binWidth")) else Nil)
  def run(df: DataFrame): DataFrame = {
    val stats = Drift.chiSquare(df, valueCol, groupCol, binWidth)
    stats.filter(org.apache.spark.sql.functions.col("chi2") > threshold)
      .select(
        lit(id).as("constraint_id"),
        lit(valueCol).as("path"),
        lit(s"chi2 <= $threshold vs pooled").as("bound"),
        concat(lit("chi2="), org.apache.spark.sql.functions.col("chi2").cast(StringType)).as("actual"),
        org.apache.spark.sql.functions.col(groupCol).as("key"))
  }
}

/** Drift via Population Stability Index per group vs pooled (the industry-
  * standard monitoring statistic; >0.25 conventionally = shifted), from the
  * same one-scan cell table as [[DriftChiSquare]] ([[Drift.psi]]). */
final case class DriftPSI(valueCol: String, groupCol: String, binWidth: Double,
    threshold: Double = 0.25) extends AggConstraint {
  val id = s"driftPSI($valueCol by $groupCol)"
  def selfCheck(s: StructType) =
    Constraints.requireNumeric(s, valueCol, id) ++ Constraints.requireCol(s, groupCol, id) ++
      (if (binWidth <= 0) List(SuiteError.Unsupported(id, s"binWidth=$binWidth")) else Nil)
  def run(df: DataFrame): DataFrame = {
    val stats = Drift.psi(df, valueCol, groupCol, binWidth)
    stats.filter(org.apache.spark.sql.functions.col("psi") > threshold)
      .select(
        lit(id).as("constraint_id"),
        lit(valueCol).as("path"),
        lit(s"psi <= $threshold vs pooled").as("bound"),
        concat(lit("psi="), org.apache.spark.sql.functions.col("psi").cast(StringType)).as("actual"),
        org.apache.spark.sql.functions.col(groupCol).as("key"))
  }
}

/** Drift via two-sample Kolmogorov–Smirnov on binned CDFs per group vs
  * pooled, from the same one-scan cell table as [[DriftChiSquare]]
  * ([[Drift.ks]]). */
final case class DriftKS(valueCol: String, groupCol: String, binWidth: Double,
    threshold: Double) extends AggConstraint {
  val id = s"driftKS($valueCol by $groupCol)"
  def selfCheck(s: StructType) =
    Constraints.requireNumeric(s, valueCol, id) ++ Constraints.requireCol(s, groupCol, id) ++
      (if (binWidth <= 0) List(SuiteError.Unsupported(id, s"binWidth=$binWidth")) else Nil)
  def run(df: DataFrame): DataFrame = {
    val stats = Drift.ks(df, valueCol, groupCol, binWidth)
    stats.filter(org.apache.spark.sql.functions.col("ks") > threshold)
      .select(
        lit(id).as("constraint_id"),
        lit(valueCol).as("path"),
        lit(s"ks <= $threshold vs pooled").as("bound"),
        concat(lit("ks="), org.apache.spark.sql.functions.col("ks").cast(StringType)).as("actual"),
        org.apache.spark.sql.functions.col(groupCol).as("key"))
  }
}
