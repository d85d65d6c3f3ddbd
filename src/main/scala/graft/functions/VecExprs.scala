package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot per-row kernels.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`) are
  * CodegenFallback AND pay per-ELEMENT lambda interpretation; these
  * expressions do the whole array in one tight JVM loop per row, so the
  * interpretation overhead is per-row. Measured on the LSH pair-scoring
  * stage this is a ~10× win over the HOF formulation (see BENCH notes).
  *
  * EVERY expression here implements `doGenCode` — one CodegenFallback
  * expression evicts its whole Project/Filter stage from whole-stage
  * codegen, so a single interpreted kernel would make every OTHER column in
  * the signature projection pay interpreted eval too. The simple scalar
  * kernels (VecDot, ArrayAllInRange) inline a primitive loop; the
  * buffer-building kernels (shingles, MinHash, token n-grams, …) embed a
  * reference to the expression and call its `compute` method — the stage
  * stays compiled, the kernel stays one JVM method, and the only per-row
  * overhead is a virtual call.
  *
  * All are deterministic pure functions — safe anywhere in the plan.
  */


object VecGetter {
  /** Java literal for a double bound embedded in generated code. */
  def jlit(d: Double): String =
    if (d == Double.NegativeInfinity) "Double.NEGATIVE_INFINITY"
    else if (d == Double.PositiveInfinity) "Double.POSITIVE_INFINITY"
    else if (d.isNaN) "Double.NaN"
    else s"${d}D"

  /** Element-type-aware numeric reader — VecDot/VecNorm/SignLshBands accept
    * any numeric array (float embeddings, double-typed derived columns). */
  def forType(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
    case ArrayType(ShortType, _) => (a, i) => a.getShort(i).toDouble
    case ArrayType(ByteType, _) => (a, i) => a.getByte(i).toDouble
    case other => throw new IllegalArgumentException(s"non-numeric array: $other")
  }
  /** The array types [[forType]] reads, for kernels that check their input
    * at analysis (`ExpectsInputTypes`). */
  val inputType = org.apache.spark.sql.GraftShim.anyOf(
    Seq(FloatType, DoubleType, IntegerType, LongType, ShortType, ByteType).map(ArrayType(_)): _*)
}

/** dot(a, b) over two numeric arrays, accumulated in double. Mismatched
  * lengths (ragged embeddings) yield NULL — a truncated dot would be a
  * plausible but WRONG score; enforce equal dims upstream or filter nulls.
  * Implements `doGenCode`, so the scoring stage stays inside whole-stage
  * codegen with a primitive loop (no per-row boxing). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(VecGetter.inputType, VecGetter.inputType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val getL = VecGetter.forType(left.dataType)
  @transient private lazy val getR = VecGetter.forType(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += getL(x, i) * getR(y, i); i += 1 }
    s
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val getA = CodeGenerator.getValue(a, left.dataType.asInstanceOf[ArrayType].elementType, i)
      val getB = CodeGenerator.getValue(b, right.dataType.asInstanceOf[ArrayType].elementType, i)
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (double)($getA) * (double)($getB);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sqrt(dot(a, a)). `doGenCode` keeps the host stage inside whole-stage
  * codegen (one interpreted expression evicts the WHOLE stage); the kernel
  * itself runs as one JVM method via an embedded reference — same loop, no
  * per-row boxing beyond the ArrayData handle. */
case class VecNorm(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(VecGetter.inputType)
  override def dataType: DataType = DoubleType
  @transient private lazy val get = VecGetter.forType(child.dataType)
  def compute(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = get(x, i); s += v * v; i += 1 }
    math.sqrt(s)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecNorm", this, classOf[VecNorm].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HashMix {
  /** xxhash64-style avalanche over a long — cheap per-slot hash derivation. */
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  /** FNV-1a 64 over UTF8 bytes — deterministic base hash for shingles. */
  def hashUtf8(s: UTF8String): Long = {
    // reads the bytes in place; `getBytes` would copy every shingle
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) { h = (h ^ (Platform.getByte(base, off + i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }
}

/** MinHash signature: array<long> of `numHashes` slots; slot j =
  * min over shingles of mix(base_hash ^ seed_j). One base hash per shingle,
  * `numHashes` mixes per shingle — the classic one-hash + derived-permutation
  * scheme. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val seeds: Array[Long] =
    Array.tabulate(numHashes)(j => HashMix.mix(0x9e3779b97f4a7c15L * (j + 1)))
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = HashMix.hashUtf8(arr.getUTF8String(i))
      var j = 0
      while (j < numHashes) {
        val h = HashMix.mix(base ^ seeds(j))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    // primitive-backed: GenericArrayData(Array[Long]) boxes every slot
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** LSH band keys of a MinHash signature: array<long> of `bands` keys, where
  * band b's key is xxhash64 (seed 42) of the decimal slot values of slice b
  * (`numHashes / bands` slots) joined by ",". That is bit-for-bit
  * `xxhash64(array_join(transform(slice(sig, b*r+1, r), cast string), ","))`,
  * the formula stored band tables and streaming state are keyed with, but
  * built in one byte buffer per row instead of `bands` interpreted
  * string chains. As in that formula, null slots are skipped and a slice past
  * the end of a short signature hashes the empty string. */
case class MinHashBandHashes(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && numHashes > 0 && numHashes % bands == 0,
    "bands must be positive and divide numHashes")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val rows = numHashes / bands
  def compute(sig: ArrayData): ArrayData = {
    val n = sig.numElements()
    // 20 bytes hold any long in decimal, plus one separator per slot
    val buf = new Array[Byte](rows * 21)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var len = 0
      var i = b * rows
      val end = math.min(i + rows, n)
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          len = MinHashBandHashes.putDecimal(sig.getLong(i), buf, len)
        }
        i += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandHashes", this, classOf[MinHashBandHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object MinHashBandHashes {
  private val MinLong = Long.MinValue.toString.getBytes("US-ASCII")
  /** Writes `Long.toString(v)` as ASCII at `pos`; returns the end offset. */
  def putDecimal(v: Long, buf: Array[Byte], pos: Int): Int = {
    if (v == Long.MinValue) {
      System.arraycopy(MinLong, 0, buf, pos, MinLong.length)
      return pos + MinLong.length
    }
    var p = pos
    var x = v
    if (x < 0) { buf(p) = '-'; p += 1; x = -x }
    var digits = 1
    var t = x
    while (t >= 10) { t /= 10; digits += 1 }
    var q = p + digits - 1
    while (q >= p) { buf(q) = ('0' + (x % 10)).toByte; x /= 10; q -= 1 }
    p + digits
  }
}

/** SimHash64 over string shingles: bit i of the result is the sign of the
  * shingle-count-weighted sum of hash bit i. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = HashMix.mix(HashMix.hashUtf8(arr.getUTF8String(i)))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Banded sign-LSH signatures for float vectors: returns array<long> of
  * `bands` band-values; band b = sign bits of `planesPerBand` deterministic
  * hyperplane dots. Hyperplane weights derive from mix(plane, dim) — no
  * driver-side randomness, reproducible at any parallelism. */
case class SignLshBands(child: Expression, bands: Int, planesPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(VecGetter.inputType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val planes = bands * planesPerBand
  // weight(p, d) ∈ {-2,-1,0,1,2}; materialized lazily per executor for the
  // dims seen (cache rows are tiny: planes × dim longs)
  @inline private def weight(p: Int, d: Int): Double =
    (java.lang.Math.floorMod(HashMix.mix((p.toLong << 32) | (d & 0xffffffffL)), 5L) - 2L).toDouble
  @transient private lazy val get = VecGetter.forType(child.dataType)
  def compute(x: ArrayData): ArrayData = {
    val dim = x.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var j = 0
      while (j < planesPerBand) {
        val p = b * planesPerBand + j
        var s = 0.0
        var d = 0
        while (d < dim) { s += get(x, d) * weight(p, d); d += 1 }
        if (s > 0) v |= (1L << j)
        j += 1
      }
      out(b) = v
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signLsh", this, classOf[SignLshBands].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** All numeric array elements within [lo, hi] — the hot token-domain
  * predicate. One JVM loop per row with early exit; `forall(...)` would pay
  * per-element lambda interpretation on every token of every row. Implements
  * `doGenCode`: the S1 scan projection keeps this check as a primitive loop
  * inside whole-stage codegen instead of an interpreted-eval island. */
case class ArrayAllInRange(child: Expression, lo: Double, hi: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def inputTypes = Seq(VecGetter.inputType)
  @transient private lazy val getter = VecGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (mayContainNull && x.isNullAt(i)) return false
      val v = getter(x, i)
      if (v < lo || v > hi) return false
      i += 1
    }
    true
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val nullElem =
        if (at.containsNull) s"if ($arr.isNullAt($i)) { ${ev.value} = false; break; }"
        else ""
      s"""
         |final int $n = $arr.numElements();
         |${ev.value} = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullElem
         |  final double $v = (double)($getV);
         |  if ($v < ${VecGetter.jlit(lo)} || $v > ${VecGetter.jlit(hi)}) {
         |    ${ev.value} = false;
         |    break;
         |  }
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** COUNT of array elements outside the closed range [lo, hi] — the
  * quantified companion to [[ArrayAllInRange]] (which short-circuits on the
  * first offender and so can't measure HOW out-of-domain a corpus is). A
  * null ELEMENT counts as out-of-range (an invalid token, not an absent
  * one), and so does a NaN element in float/double arrays (`v < lo || v >
  * hi` is vacuously false for NaN — without the explicit test a NaN would
  * silently count as in-vocab, the one invalid-token case the null stance
  * already rejects); a null ARRAY is null (leaf null-stance — assert
  * presence with NonNull). Backs per-group OOV-rate drift over token
  * arrays: one codegen'd pass per row, no explode, no HOF lambda. */
case class ArrayCountOutOfRange(child: Expression, lo: Double, hi: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(VecGetter.inputType)
  @transient private lazy val getter = VecGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bad = 0L
    var i = 0
    while (i < n) {
      if (mayContainNull && x.isNullAt(i)) bad += 1
      else {
        val v = getter(x, i)
        if (v < lo || v > hi || java.lang.Double.isNaN(v)) bad += 1
      }
      i += 1
    }
    bad
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val body =
        if (at.containsNull)
          s"""if ($arr.isNullAt($i)) { ${ev.value}++; }
             |else {
             |  final double $v = (double)($getV);
             |  if ($v < ${VecGetter.jlit(lo)} || $v > ${VecGetter.jlit(hi)} || Double.isNaN($v)) ${ev.value}++;
             |}""".stripMargin
        else
          s"""final double $v = (double)($getV);
             |if ($v < ${VecGetter.jlit(lo)} || $v > ${VecGetter.jlit(hi)} || Double.isNaN($v)) ${ev.value}++;""".stripMargin
      s"""
         |final int $n = $arr.numElements();
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $body
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Integral-element reader shared by the pad-layout kernels: tokens are
  * discrete symbols, so equality is exact long comparison — float arrays are
  * rejected at selfCheck time (== on floats is a footgun, not a layout). */
object IntGetter {
  def forType(dt: DataType): (ArrayData, Int) => Long = dt match {
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toLong
    case ArrayType(LongType, _) => (a, i) => a.getLong(i)
    case ArrayType(ShortType, _) => (a, i) => a.getShort(i).toLong
    case ArrayType(ByteType, _) => (a, i) => a.getByte(i).toLong
    case other => throw new IllegalArgumentException(s"non-integral array: $other")
  }
  /** The array types [[forType]] reads, for kernels that check their input
    * at analysis (`ExpectsInputTypes`). */
  val inputType = org.apache.spark.sql.GraftShim.anyOf(
    Seq(IntegerType, LongType, ShortType, ByteType).map(ArrayType(_)): _*)
}

/** COUNT of array elements equal to `target` (exact integral equality) —
  * the pad counter behind pad-aware length checks: non-pad count =
  * size(arr) - ArrayCountEq(arr, pad), computed without materializing an
  * `array_remove` copy of an 8k-token array per row. A null ELEMENT never
  * equals anything; a null ARRAY is null (leaf null-stance). */
case class ArrayCountEq(child: Expression, target: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(IntGetter.inputType)
  override def dataType: DataType = LongType
  @transient private lazy val getter = IntGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var eq = 0L
    var i = 0
    while (i < n) {
      if (!(mayContainNull && x.isNullAt(i)) && getter(x, i) == target) eq += 1
      i += 1
    }
    eq
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val guard = if (at.containsNull) s"!$arr.isNullAt($i) && " else ""
      s"""
         |final int $n = $arr.numElements();
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($guard(long)($getV) == ${target}L) ${ev.value}++;
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** TRUE iff every `pad` element is part of a contiguous suffix — i.e. no
  * non-pad element appears after the first pad. The layout invariant of a
  * right-padded training batch: [content..., EOS, PAD, PAD, ...]. A null
  * ELEMENT counts as non-pad (corruption after padding began is a layout
  * violation, not an absent slot); empty and all-pad arrays are trivially
  * ok. One forward pass, no allocation. */
case class ArrayPadSuffixOk(child: Expression, pad: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(IntGetter.inputType)
  override def dataType: DataType = BooleanType
  @transient private lazy val getter = IntGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var seenPad = false
    var i = 0
    while (i < n) {
      val isPad = !(mayContainNull && x.isNullAt(i)) && getter(x, i) == pad
      if (isPad) seenPad = true
      else if (seenPad) return false
      i += 1
    }
    true
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val seen = ctx.freshName("seenPad")
      val isPad = ctx.freshName("isPad")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val guard = if (at.containsNull) s"!$arr.isNullAt($i) && " else ""
      s"""
         |final int $n = $arr.numElements();
         |boolean $seen = false;
         |${ev.value} = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  final boolean $isPad = $guard(long)($getV) == ${pad}L;
         |  if ($isPad) { $seen = true; }
         |  else if ($seen) { ${ev.value} = false; break; }
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** COUNT of separator-delimited segments whose length falls outside
  * [minLen, maxLen] — the structural check for PACKED training sequences
  * ([doc1..., EOS, doc2..., EOS, ...]): an empty interior segment
  * (consecutive separators, or a leading separator) is a packing bug, and a
  * segment longer than the training context never fit a document boundary.
  * Segments are the runs BETWEEN separators plus a trailing run only when
  * non-empty (an array ending in a separator is fully terminated, not
  * followed by an empty document). No separator at all ⇒ one segment, the
  * whole array. Null elements count as ordinary tokens (their validity is
  * elemRange's job). One forward pass, no allocation. */
case class ArrayBadSegmentCount(child: Expression, sep: Long, minLen: Long, maxLen: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(IntGetter.inputType)
  override def dataType: DataType = LongType
  @transient private lazy val getter = IntGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bad = 0L
    var prev = -1 // index of the last separator seen
    var i = 0
    while (i < n) {
      if (!(mayContainNull && x.isNullAt(i)) && getter(x, i) == sep) {
        val segLen = i - prev - 1
        if (segLen < minLen || segLen > maxLen) bad += 1
        prev = i
      }
      i += 1
    }
    val trailing = n - prev - 1
    if (trailing > 0 && (trailing < minLen || trailing > maxLen)) bad += 1
    bad
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val prev = ctx.freshName("prevSep")
      val seg = ctx.freshName("segLen")
      val trail = ctx.freshName("trailing")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val guard = if (at.containsNull) s"!$arr.isNullAt($i) && " else ""
      s"""
         |final int $n = $arr.numElements();
         |int $prev = -1;
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($guard(long)($getV) == ${sep}L) {
         |    final int $seg = $i - $prev - 1;
         |    if ($seg < ${minLen}L || $seg > ${maxLen}L) ${ev.value}++;
         |    $prev = $i;
         |  }
         |}
         |final int $trail = $n - $prev - 1;
         |if ($trail > 0 && ($trail < ${minLen}L || $trail > ${maxLen}L)) ${ev.value}++;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Value of the LAST non-null element not equal to `skip` — "the last real
  * token before padding", robust even when pads leak into the interior.
  * NULL when the array is null, empty, all-pad, or all-null: there is no
  * last real token to report (EOS checks coalesce that to a violation).
  * Null elements are skipped here — their validity is elemRange's job. */
case class ArrayLastNotEq(child: Expression, skip: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(IntGetter.inputType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  @transient private lazy val getter = IntGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    // backward scan: the common case (well-formed padded row) finds the
    // last real token within the pad-suffix length, not O(n) from the front
    var i = x.numElements() - 1
    while (i >= 0) {
      if (!(mayContainNull && x.isNullAt(i))) {
        val v = getter(x, i)
        if (v != skip) return v
      }
      i -= 1
    }
    null
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val found = ctx.freshName("found")
      val at = child.dataType.asInstanceOf[ArrayType]
      val getV = CodeGenerator.getValue(arr, at.elementType, i)
      val guard = if (at.containsNull) s"!$arr.isNullAt($i) && " else ""
      s"""
         |boolean $found = false;
         |${ev.value} = 0L;
         |for (int $i = $arr.numElements() - 1; $i >= 0 && !$found; $i--) {
         |  if ($guard true) {
         |    final long $v = (long)($getV);
         |    if ($v != ${skip}L) { ${ev.value} = $v; $found = true; }
         |  }
         |}
         |${ev.isNull} = !$found;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Distinct lowercase word k-shingles of a text column in ONE pass:
  * tokenize on non-alphanumeric runs, lowercase, emit distinct k-grams
  * joined by single spaces. Replaces a 5-op HOF pipeline
  * (regexp_replace→split→filter→transform/slice/array_join→distinct), each
  * stage of which re-walks the text with interpreted lambdas. */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  def compute(s: UTF8String): ArrayData = {
    val text = s.toString
    val words = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else if (sb.length > 0) { words += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) words += sb.toString
    val out = new java.util.LinkedHashSet[String]()
    if (k <= 1) {
      words.foreach(out.add)
    } else {
      // one reused builder per row: no per-shingle slice or mkString
      val g = new java.lang.StringBuilder(64)
      var j = 0
      while (j + k <= words.length) {
        g.setLength(0)
        g.append(words(j))
        var t = 1
        while (t < k) { g.append(' ').append(words(j + t)); t += 1 }
        out.add(g.toString)
        j += 1
      }
    }
    val arr = new Array[AnyRef](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(arr)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Count of positions where two long arrays agree — MinHash signature
  * agreement (estimated Jaccard numerator). Mismatched lengths yield NULL
  * (signatures are fixed-width by construction; a mismatch means corrupt
  * input, not "compare the shorter prefix"). */
case class LongArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  /** Caller guarantees equal lengths (the null case is handled outside). */
  def compute(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else compute(x, y)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("eqCount", this, classOf[LongArrayEqCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $ref.compute($a, $b);
         |}
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Count of DISTINCT elements of `left` also present in `right` — exactly
  * `size(array_intersect(left, right))` for string arrays (null elements
  * match null, duplicates count once) WITHOUT materializing the
  * intersection ARRAY: the Jaccard verification stages only ever read the
  * intersection's SIZE, and `array_intersect` + `size` built (then threw
  * away) an O(|a∩b|) string array per scored pair. One hash-set build per
  * side, a counter, zero per-pair output allocation. */
case class StringArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  def compute(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val bSet = new java.util.HashSet[UTF8String](Math.max(16, nb * 2))
    var bHasNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else bSet.add(b.getUTF8String(i))
      i += 1
    }
    val na = a.numElements()
    // `seen` keeps duplicate-bearing inputs exact (array_intersect counts a
    // value once); per-document-distinct gram arrays never insert into it
    // beyond the bSet hit
    val seen = new java.util.HashSet[UTF8String](Math.max(16, na * 2))
    var c = 0
    var nullCounted = false
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bHasNull && !nullCounted) { c += 1; nullCounted = true }
      } else {
        val v = a.getUTF8String(i)
        if (bSet.contains(v) && seen.add(v)) c += 1
      }
      i += 1
    }
    c
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ixCount", this,
      classOf[StringArrayIntersectCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Distinct 64-bit hashes of every length-`n` token window in an integer
  * token array — the decontamination / token-span-dedup kernel for
  * pre-tokenized corpora. One JVM loop per row: polynomial window hash +
  * avalanche, deduped in-row (a 10^4-token doc yields ≤ 10^4 hashes, not a
  * string per window). 64-bit space makes cross-window collisions
  * negligible at 10^12-sequence scale (birthday bound ≈ 2^-20 per 10^6
  * distinct spans). */
case class TokenNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "n > 0")
  override def inputTypes = Seq(IntGetter.inputType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val get: (ArrayData, Int) => Long =
    IntGetter.forType(child.dataType)
  @transient private lazy val mayContainNull =
    child.dataType.asInstanceOf[ArrayType].containsNull
  def compute(x: ArrayData): ArrayData = {
    val len = x.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + n <= len) {
      // windows containing NULL tokens are SKIPPED: ArrayData would read a
      // null slot as 0, silently aliasing null with token id 0 — a corrupt
      // window must never match a real one
      var h = 0xcbf29ce484222325L
      var ok = true
      var j = 0
      while (ok && j < n) {
        if (mayContainNull && x.isNullAt(i + j)) ok = false
        else { h = (h ^ get(x, i + j)) * 0x100000001b3L; j += 1 }
      }
      if (ok) out.add(HashMix.mix(h))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = it.next(); m += 1 }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenNgrams", this, classOf[TokenNgramHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Index of the nearest centroid (squared L2, ties → lowest index) — the IVF
  * coarse-quantizer assignment. Centroids ship inside the expression (they
  * are the trained model, nlist×dim doubles — a few KB), so assignment is one
  * narrow codegen-stage-friendly pass with no join. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "NearestCentroid requires >= 1 centroid")
  override def inputTypes = Seq(VecGetter.inputType)
  override def dataType: DataType = IntegerType
  @transient private lazy val get = VecGetter.forType(child.dataType)
  def compute(x: ArrayData): Int = {
    val dim = x.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(dim, cent.length)
      var d = 0.0
      var i = 0
      while (i < n) { val t = get(x, i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The `nprobe` nearest centroid indices (squared L2, ascending by
  * (distance, index) — identical tie semantics to the driver-side
  * `Ivf.Model.probesFor`). The per-QUERY-row probe computation for batched
  * IVF search: queries explode to (query, list_id) pairs with no driver
  * round-trip per query. Centroids ride inside the expression (nlist×dim
  * doubles — KBs). */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "NearestCentroids requires >= 1 centroid")
  require(nprobe >= 1, "nprobe >= 1")
  override def inputTypes = Seq(VecGetter.inputType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val get = VecGetter.forType(child.dataType)
  def compute(x: ArrayData): ArrayData = {
    val dim = x.numElements()
    val n = centroids.length
    val d = new Array[Double](n)
    var c = 0
    while (c < n) {
      val cent = centroids(c)
      val m = math.min(dim, cent.length)
      var s = 0.0
      var i = 0
      while (i < m) { val t = get(x, i) - cent(i); s += t * t; i += 1 }
      d(c) = s
      c += 1
    }
    val p = math.min(nprobe, n)
    val idx = Array.range(0, n).sortBy(i => (d(i), i)).take(p)
    UnsafeArrayData.fromPrimitiveArray(idx)
  }
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this, classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column wrappers. */
object VecFunctions {
  import org.apache.spark.sql.GraftShim
  private def c(e: Expression): Column = GraftShim.column(e)
  private def e(col: Column): Expression = GraftShim.expression(col)

  def vec_dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def vec_norm(a: Column): Column = c(VecNorm(e(a)))
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    c(MinHashSig(e(shingles), numHashes))
  def minhash_band_hashes(sig: Column, numHashes: Int, bands: Int): Column =
    c(MinHashBandHashes(e(sig), numHashes, bands))
  def simhash64(shingles: Column): Column = c(SimHash64(e(shingles)))
  def sign_lsh_bands(vec: Column, bands: Int, planesPerBand: Int): Column =
    c(SignLshBands(e(vec), bands, planesPerBand))
  def long_array_eq_count(a: Column, b: Column): Column =
    c(LongArrayEqCount(e(a), e(b)))
  def array_intersect_count(a: Column, b: Column): Column =
    c(StringArrayIntersectCount(e(a), e(b)))
  def array_all_in_range(a: Column, lo: Double, hi: Double): Column =
    c(ArrayAllInRange(e(a), lo, hi))
  def array_count_out_of_range(a: Column, lo: Double, hi: Double): Column =
    c(ArrayCountOutOfRange(e(a), lo, hi))
  def array_count_eq(a: Column, target: Long): Column = c(ArrayCountEq(e(a), target))
  def array_pad_suffix_ok(a: Column, pad: Long): Column = c(ArrayPadSuffixOk(e(a), pad))
  def array_last_not_eq(a: Column, skip: Long): Column = c(ArrayLastNotEq(e(a), skip))
  def array_bad_segments(a: Column, sep: Long, minLen: Long, maxLen: Long): Column =
    c(ArrayBadSegmentCount(e(a), sep, minLen, maxLen))
  def word_shingles(text: Column, k: Int): Column = c(WordShingles(e(text), k))
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    c(NearestCentroid(e(vec), centroids))
  def nearest_centroids(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    c(NearestCentroids(e(vec), centroids, nprobe))
  def token_ngram_hashes(tokens: Column, n: Int): Column =
    c(TokenNgramHashes(e(tokens), n))
}
