package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions (with whole-stage codegen) for the hot paths
 * the built-in function library can't express efficiently:
 *
 *  - [[RollingHash]]: byte-level polynomial rolling hash of a string —
 *    the classic content-defined fingerprint primitive. A UDF would box
 *    every row and break WSCG; this generates a tight Java loop inline.
 *  - [[VecCosine]]: cosine similarity of two float/double array columns
 *    without the intermediate arrays that `zip_with` + `aggregate`
 *    allocate per row. Bit-identical to a sequential left-to-right double
 *    fold, so results match the higher-order-function formulation (and the
 *    DuckDB oracle) exactly.
 */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string column, got ${child.dataType}")
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xff) // unsigned wraparound poly hash
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
        byte[] $bytes = $c.getBytes();
        long $h = 0L;
        for (int $i = 0; $i < $bytes.length; $i++) {
          $h = $h * 1000003L + ($bytes[$i] & 0xff);
        }
        ${ev.value} = $h;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

case class VecCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // round 16: mismatched lengths and null ELEMENTS yield NULL — the
  // zip_with + aggregate HOF semantics this kernel replaces. The old
  // min-length truncation computed a prefix metric that let one
  // corrupt-dimension row silently win a top-k; null elements read
  // through ArrayData as 0.0 without isNullAt, a plausible-but-wrong
  // similarity. The element null check is emitted only when a side's
  // array type says elements CAN be null.
  override def nullable: Boolean = true

  @transient private lazy val lx = elemIsDouble(left)
  @transient private lazy val ly = elemIsDouble(right)
  @transient private lazy val checkNulls = elementsNullable(left, right)

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(s"VecCosine needs float/double arrays, got $t")
  }

  private def elementsNullable(es: Expression*): Boolean = es.exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine requires float/double array columns, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = if (lx) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (ly) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val getA = if (lx) "getDouble" else "getFloat"
      val getB = if (ly) "getDouble" else "getFloat"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullCheck =
        if (checkNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            double $xv = (double) $a.$getA($i);
            double $yv = (double) $b.$getB($i);
            $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance of two float/double array columns — the metric
  * twin of [[VecCosine]] with the same sequential left-to-right double fold
  * (bit-identical to a `list_transform` + `list_sum` recompute, so the
  * DuckDB oracle can replay distances exactly). */
case class VecL2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // mismatched lengths / null elements -> NULL, like [[VecCosine]]: a
  // prefix L2 is systematically SMALLER, so a corrupt-dimension row
  // would silently win a nearest-neighbor top-k
  override def nullable: Boolean = true

  @transient private lazy val lx = elemIsDouble(left)
  @transient private lazy val ly = elemIsDouble(right)
  @transient private lazy val checkNulls = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(s"VecL2 needs float/double arrays, got $t")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2 requires float/double array columns, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = if (lx) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (ly) y.getDouble(i) else y.getFloat(i).toDouble
      val d = xv - yv
      ss += d * d
      i += 1
    }
    math.sqrt(ss)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val getA = if (lx) "getDouble" else "getFloat"
      val getB = if (ly) "getDouble" else "getFloat"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val d = ctx.freshName("d")
      val nullCheck =
        if (checkNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $ss = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            double $d = (double) $a.$getA($i) - (double) $b.$getB($i);
            $ss += $d * $d;
          }
          if (!${ev.isNull}) {
            ${ev.value} = java.lang.Math.sqrt($ss);
          }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecL2 =
    copy(left = l, right = r)
}

/** Unicode NFC canonical normalization of a string column — the first
  * text-canonicalization step of a web-corpus pipeline (decomposed
  * accents, compatibility singletons like U+212B ANGSTROM SIGN, and
  * mixed-form scrapes all collapse to one canonical byte form, so
  * downstream hashing/dedup/fingerprinting see one representation).
  *
  * Why an expression and not a UDF: the fast path. Web corpora are
  * dominated by pure-ASCII rows, for which NFC is the identity — detected
  * in O(n) bytes (numBytes == numChars) and returned WITHOUT the
  * String round-trip or any allocation, inside whole-stage codegen. Only
  * genuinely non-ASCII rows pay the JDK normalizer. The JDK and DuckDB's
  * utf8proc implement the same Unicode canonical composition, so results
  * are oracle-comparable (pinned by the x_nfc_normalize query). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string column, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object NfcNormalize {
  /** Shared by the interpreted and generated paths. */
  def normalize(s: UTF8String): UTF8String =
    // pure ASCII (1 byte per char) is closed under NFC: return as-is
    if (s.numBytes == s.numChars) s
    else UTF8String.fromString(java.text.Normalizer
      .normalize(s.toString, java.text.Normalizer.Form.NFC))
}

/** Column-level API + SQL registration for the native expressions. */
/**
 * All `n`-token shingles of a string array, space-joined — the native
 * replacement for the interpreted `transform(i => array_join(slice(...)))`
 * lambda (higher-order functions get no codegen and pay a per-shingle
 * ArrayData copy; profiled at ~1.5 ms/document vs ~10 µs here, and every
 * lexical-similarity operator sits on this). Size < n yields an EMPTY
 * array (not null); null elements are skipped inside a shingle exactly
 * like `array_join`/`concat_ws`.
 */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles requires an array<string> column, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    Shingles.shingle(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.shingle($c, $n)")

  override protected def withNewChildInternal(c: Expression): Shingles =
    copy(child = c)
}

object Shingles {
  private val Space = UTF8String.fromString(" ")

  /** Shared by the interpreted and generated paths. */
  def shingle(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    if (sz < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      if (n == 1) {
        val s = arr.getUTF8String(i)
        out(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
      } else {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, parts: _*)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/**
 * Hashed n-gram shingles straight from the token array: each token is
 * xxhash64'd (seed 42, Spark's `xxhash64` function exactly) and every
 * n-window combines as XOR_j (a_j·h+b_j) in wrapping Long arithmetic —
 * the minhash shingle primitive, previously a per-element interpreted
 * `transform(tokens, xxhash64)` + `transform(sequence, …)` HOF chain.
 * Bit-identical by construction (two's-complement math, same window
 * order); inputs shorter than n yield an empty array. NULL input → NULL
 * (call sites coalesce to empty, the old `when/otherwise` behavior).
 */
case class TokenShingleHashes(child: Expression,
    mixA: Seq[Long], mixB: Seq[Long]) extends UnaryExpression {

  require(mixA.nonEmpty && mixA.size == mixB.size,
    s"mix constants must pair up, got ${mixA.size}/${mixB.size}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_shingle_hashes requires an array<string> column, got $t")
  }

  @transient private lazy val aArr: Array[Long] = mixA.toArray
  @transient private lazy val bArr: Array[Long] = mixB.toArray

  override def nullSafeEval(input: Any): Any =
    TokenShingleHashes.compute(input.asInstanceOf[ArrayData], aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.addReferenceObj("shingleMixA", aArr, "long[]")
      val b = ctx.addReferenceObj("shingleMixB", bArr, "long[]")
      s"${ev.value} = graft.functions.TokenShingleHashes.compute($c, $a, $b);"
    })

  override protected def withNewChildInternal(c: Expression): TokenShingleHashes =
    copy(child = c)
}

object TokenShingleHashes {
  /** Shared by the interpreted and generated paths. */
  def compute(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val len = arr.numElements()
    val n = a.length
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    // token hashes once: Spark's xxhash64(col) == XxHash64Function seed 42;
    // a null element hashes to the unchanged seed, exactly what the
    // transform(tokens, xxhash64) chain this replaces produced (xxhash64
    // leaves the seed untouched on null input) — never an NPE
    val h = new Array[Long](len)
    var i = 0
    while (i < len) {
      val u = arr.getUTF8String(i)
      h(i) = if (u == null) 42L
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          u, StringType, 42L)
      i += 1
    }
    val out = new Array[Long](len - n + 1)
    i = 0
    while (i <= len - n) {
      var acc = 0L
      var j = 0
      while (j < n) {
        acc ^= a(j) * h(i + j) + b(j)
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/**
 * Windowed co-occurrence pairs for PMI collocations: every unordered
 * token pair within `window` positions as `"min max"` strings (the two
 * tokens sorted by UTF8 byte order, space-joined) — the native
 * replacement for a per-distance `zip_with(slice, slice,
 * concat_ws(array_sort(…)))` chain that Catalyst interprets per element.
 * Output order matches the HOF form exactly: all distance-1 pairs in
 * position order, then distance-2, … (order is irrelevant to the
 * downstream count but the parity spec pins it anyway).
 */
case class TokenPairs(child: Expression, window: Int) extends UnaryExpression {

  require(window >= 1, s"window must be >= 1, got $window")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_pairs requires an array<string> column, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    TokenPairs.pairs(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenPairs.pairs($c, $window)")

  override protected def withNewChildInternal(c: Expression): TokenPairs =
    copy(child = c)
}

object TokenPairs {
  private val Space = UTF8String.fromString(" ")

  /** Shared by the interpreted and generated paths. */
  def pairs(arr: ArrayData, window: Int): ArrayData = {
    val n = arr.numElements()
    var total = 0
    var j = 1
    while (j <= window) { if (n > j) total += n - j; j += 1 }
    val out = new Array[Any](total)
    var k = 0
    j = 1
    while (j <= window) {
      var i = 0
      val lim = n - j
      while (i < lim) {
        val a = arr.getUTF8String(i)
        val b = arr.getUTF8String(i + j)
        // null elements never pair (tokenizers don't emit them; a hostile
        // array must not NPE the whole task)
        if (a != null && b != null) {
          // UTF8String binary order, array_sort's comparator for strings
          val (lo, hi) = if (a.compareTo(b) <= 0) (a, b) else (b, a)
          out(k) = UTF8String.concatWs(Space, lo, hi)
          k += 1
        }
        i += 1
      }
      j += 1
    }
    if (k == total) new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k))
  }
}

/**
 * All unordered pairs of a SORTED, null-free array as `struct<u, v>`
 * rows (u before v in array order) — the native pair emitter of
 * [[graft.ops.Graph.coOccurrenceEdges]]. Replaces a
 * `flatten(transform(arr, (x, i) -> transform(slice(arr, i+2, …), …)))`
 * chain that Catalyst interprets per element AND re-materializes a
 * slice copy of the tail per position — O(n²) array allocations per
 * cell on top of the boxed lambda evaluation. One loop, no slices.
 * Output order matches the HOF form exactly: ascending i, then
 * ascending j. Elements must be long or string; input arrays come from
 * `collect_list`, which never emits null elements.
 */
case class SortedPairs(child: Expression) extends UnaryExpression {

  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("u", elemType, nullable = false),
      StructField("v", elemType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs requires an array<long> or array<string> column, got $t")
  }

  private def isLong: Boolean = elemType == LongType

  override def nullSafeEval(input: Any): Any =
    if (isLong) SortedPairs.pairsLong(input.asInstanceOf[ArrayData])
    else SortedPairs.pairsString(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isLong) "pairsLong" else "pairsString"
    defineCodeGen(ctx, ev, c => s"graft.functions.SortedPairs.$fn($c)")
  }

  override protected def withNewChildInternal(c: Expression): SortedPairs =
    copy(child = c)
}

object SortedPairs {

  private def alloc(n: Int): Array[Any] = {
    // C(n,2) as long first: a hostile input array could overflow int
    val total = n.toLong * (n - 1) / 2
    require(total <= Int.MaxValue,
      s"sorted_pairs: $n elements emit $total pairs (> Int.MaxValue)")
    new Array[Any](total.toInt)
  }

  private def trim(out: Array[Any], k: Int): ArrayData =
    if (k == out.length) new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k))

  /** Shared by the interpreted and generated paths. Null elements never
    * pair (collect_list doesn't emit them; a hostile array must not
    * produce garbage structs). */
  def pairsLong(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = alloc(n)
    var k = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val u = arr.getLong(i)
        var j = i + 1
        while (j < n) {
          if (!arr.isNullAt(j)) {
            out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](u, arr.getLong(j)))
            k += 1
          }
          j += 1
        }
      }
      i += 1
    }
    trim(out, k)
  }

  def pairsString(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = alloc(n)
    var k = 0
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u != null) {
        var j = i + 1
        while (j < n) {
          val v = arr.getUTF8String(j)
          if (v != null) {
            out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](u, v))
            k += 1
          }
          j += 1
        }
      }
      i += 1
    }
    trim(out, k)
  }
}

/**
 * Per-query PQ asymmetric-distance lookup table, flattened: entry
 * `s*ksub + c` is the inner product of the query's s-th sub-vector with
 * codeword `c` of sub-space `s` — `m*ksub` doubles per query row.
 * Replaces the interpreted `transform(transform(aggregate(zip_with(…))))`
 * HOF chain with one codegen'd loop nest; each dot product accumulates
 * left-to-right in ascending element order, bit-identical to the
 * sequential `zip_with`+`aggregate` fold (and the DuckDB oracle replay).
 * A query vector whose length differs from m·dsub yields NULL, like the
 * HOF chain's null-padded zip.
 */
case class PqAdcTable(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      // uniform ksub is load-bearing, not cosmetic: the output table is
      // ksub-strided (entry s*ksub + c), so a ragged codebook would write
      // codeword c of one sub-space into another's block
      if (codebooks.nonEmpty && codebooks.forall(_.nonEmpty) &&
        codebooks.forall(_.size == codebooks.head.size) &&
        codebooks.forall(_.forall(_.size == codebooks.head.head.size)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "pq_adc_table needs non-empty codebooks with uniform ksub and dsub")
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_table requires a float/double array column, got $t")
  }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def m: Int = codebooks.size
  private def ksub: Int = codebooks.head.size
  private def dsub: Int = codebooks.head.head.size

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dsub) return null
    val isD = elemIsDouble
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val sub = cb(s)
      var c = 0
      while (c < sub.length) {
        val cw = sub(c)
        var acc = 0.0
        var d = 0
        while (d < cw.length) {
          val x = if (isD) v.getDouble(s * dsub + d)
                  else v.getFloat(s * dsub + d).toDouble
          acc += x * cw(d)
          d += 1
        }
        out(s * ksub + c) = acc
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val get = if (elemIsDouble) "getDouble" else "getFloat"
      val cbRef = ctx.addReferenceObj("pqCodebooks", cb, "double[][][]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val cc = ctx.freshName("cc")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val cw = ctx.freshName("cw")
      s"""
        if ($c.numElements() != ${m * dsub}) {
          ${ev.isNull} = true;
        } else {
          double[] $out = new double[${m * ksub}];
          for (int $s = 0; $s < $m; $s++) {
            for (int $cc = 0; $cc < ${ksub}; $cc++) {
              double[] $cw = $cbRef[$s][$cc];
              double $acc = 0.0;
              for (int $d = 0; $d < $cw.length; $d++) {
                $acc += ((double) $c.$get($s * $dsub + $d)) * $cw[$d];
              }
              $out[$s * $ksub + $cc] = $acc;
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/**
 * PQ encode: nearest-codeword assignment of each sub-vector — m one-byte
 * codes (`array<tinyint>`, the standard −128 offset) per input vector.
 * One codegen'd loop nest replacing the interpreted
 * `transform(transform(aggregate(zip_with(…))))` + `array_min` +
 * `array_position` HOF chain of the encode path: per sub-space the d²
 * fold accumulates left-to-right in ascending element order and the
 * FIRST code attaining the minimum wins (strict `<` scan), bit-identical
 * to `array_position(d2s, array_min(d2s))`. Wrong-dim vectors yield NULL
 * codes, like the `when(vecOk, …)` guard it replaces.
 */
case class PqEncodeCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      // uniform ksub kept in lockstep with PqAdcTable/PqAdcSum: the codes
      // this expression emits index a ksub-strided ADC table downstream
      if (codebooks.nonEmpty && codebooks.forall(_.nonEmpty) &&
        codebooks.forall(_.size <= 256) &&
        codebooks.forall(_.size == codebooks.head.size) &&
        codebooks.forall(_.forall(_.size == codebooks.head.head.size)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "pq_encode needs non-empty codebooks with uniform ksub <= 256 and uniform dsub")
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires a float/double array column, got $t")
  }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def m: Int = codebooks.size
  private def dsub: Int = codebooks.head.head.size

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dsub) return null
    val isD = elemIsDouble
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val sub = cb(s)
      var best = 0
      var bestD2 = Double.PositiveInfinity
      var c = 0
      while (c < sub.length) {
        val cw = sub(c)
        var acc = 0.0
        var d = 0
        while (d < cw.length) {
          val x = if (isD) v.getDouble(s * dsub + d)
                  else v.getFloat(s * dsub + d).toDouble
          val diff = x - cw(d)
          acc += diff * diff
          d += 1
        }
        if (acc < bestD2) { bestD2 = acc; best = c }
        c += 1
      }
      out(s) = (best - 128).toByte
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val get = if (elemIsDouble) "getDouble" else "getFloat"
      val cbRef = ctx.addReferenceObj("pqEncCodebooks", cb, "double[][][]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val cc = ctx.freshName("cc")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val cw = ctx.freshName("cw")
      val best = ctx.freshName("best")
      val bestD2 = ctx.freshName("bestD2")
      val diff = ctx.freshName("diff")
      s"""
        if ($c.numElements() != ${m * dsub}) {
          ${ev.isNull} = true;
        } else {
          byte[] $out = new byte[$m];
          for (int $s = 0; $s < $m; $s++) {
            int $best = 0;
            double $bestD2 = Double.POSITIVE_INFINITY;
            for (int $cc = 0; $cc < $cbRef[$s].length; $cc++) {
              double[] $cw = $cbRef[$s][$cc];
              double $acc = 0.0;
              for (int $d = 0; $d < $cw.length; $d++) {
                double $diff = ((double) $c.$get($s * $dsub + $d)) - $cw[$d];
                $acc += $diff * $diff;
              }
              if ($acc < $bestD2) { $bestD2 = $acc; $best = $cc; }
            }
            $out[$s] = (byte) ($best - 128);
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/**
 * PQ reconstruction norm: √Σₛ norms[s][codesₛ+128] over a row's m codes
 * and the per-codeword SQUARED norms — the ascending-s left-to-right
 * fold + sqrt of the encode path, codegen'd.
 */
case class PqReconNorm(child: Expression, norms: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ByteType, _) if norms.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_recon_norm requires an array<tinyint> codes column, got $t")
  }

  @transient private lazy val nrm: Array[Array[Double]] =
    norms.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val m = codes.numElements()
    // codes persisted against a DIFFERENT codebook (any sub-space count
    // other than the codebook's) must fail with a pointer at the
    // mismatch, not AIOOBE — and a SHORTER row would otherwise yield a
    // silently smaller prefix norm, the plausible-but-wrong class
    if (m != nrm.length) throw new IllegalArgumentException(
      s"pq_recon_norm: codes row has $m sub-spaces but norms cover " +
        s"${nrm.length} (codebook mismatch)")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val idx = codes.getByte(s) + 128
      if (idx >= nrm(s).length) throw new IllegalArgumentException(
        s"pq_recon_norm: code ${idx - 128} in sub-space $s exceeds " +
          s"ksub=${nrm(s).length} (codebook mismatch)")
      acc += nrm(s)(idx)
      s += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.addReferenceObj("pqNorms", nrm, "double[][]")
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val idx = ctx.freshName("idx")
      s"""
        int $m = $c.numElements();
        if ($m != $n.length) throw new IllegalArgumentException(
          "pq_recon_norm: codes/norms sub-space count mismatch (codebook mismatch)");
        double $acc = 0.0;
        for (int $s = 0; $s < $m; $s++) {
          int $idx = ((int) $c.getByte($s)) + 128;
          if ($idx >= $n[$s].length) throw new IllegalArgumentException(
            "pq_recon_norm: code exceeds ksub (codebook mismatch)");
          $acc += $n[$s][$idx];
        }
        ${ev.value} = java.lang.Math.sqrt($acc);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PqReconNorm =
    copy(child = newChild)
}

/**
 * PQ ADC score: Σₛ table[s·ksub + (codesₛ+128)] over a candidate's m
 * one-byte codes and a query's flattened [[PqAdcTable]] — the per-pair
 * hot loop of PQ search, m array reads + adds per pair in one codegen'd
 * loop instead of an interpreted per-element `aggregate`/`element_at`
 * chain. Sums in ascending sub-space order, bit-identical to the
 * sequential HOF fold.
 */
case class PqAdcSum(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) if ksub >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_sum requires (array<tinyint> codes, array<double> table), got $l, $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val table = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    // UnsafeArrayData.getDouble does NOT bounds-check: a ksub/codebook
    // mismatch would read adjacent row-buffer bytes as silent garbage
    // scores — validate the exact table size and each code's range
    if (m.toLong * ksub != table.numElements()) throw new IllegalArgumentException(
      s"pq_adc_sum: ${table.numElements()}-entry ADC table does not match " +
        s"$m sub-spaces x ksub=$ksub (codebook mismatch)")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val idx = codes.getByte(s) + 128
      if (idx >= ksub) throw new IllegalArgumentException(
        s"pq_adc_sum: code ${idx - 128} in sub-space $s exceeds ksub=$ksub " +
          "(codes encoded against a different codebook)")
      acc += table.getDouble(s * ksub + idx)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val idx = ctx.freshName("idx")
      s"""
        int $m = $a.numElements();
        if (((long) $m) * $ksub != $b.numElements()) throw new IllegalArgumentException(
          "pq_adc_sum: ADC table size does not match sub-spaces x ksub (codebook mismatch)");
        double $acc = 0.0;
        for (int $s = 0; $s < $m; $s++) {
          int $idx = ((int) $a.getByte($s)) + 128;
          if ($idx >= $ksub) throw new IllegalArgumentException(
            "pq_adc_sum: code exceeds ksub (codes from a different codebook)");
          $acc += $b.getDouble($s * $ksub + $idx);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcSum =
    copy(left = l, right = r)
}

/**
 * Symmetric int8 vector quantization in ONE codegen'd pass:
 * `struct(scale, qvec)` with `scale = max|x| / 127` and each element
 * `clamp(round_half_up(x / scale), -127, 127)` (all-zero vectors quantize
 * to zeros with scale 0). Bit-identical to the interpreted
 * `aggregate(greatest(abs)) + transform(round/least/greatest)` HOF chain
 * it replaces (QuantizeParitySpec pins every edge: null/NaN/Inf elements,
 * empty and all-zero vectors, half-way rounding) — that chain evaluated
 * per ELEMENT through interpreted lambdas and cost s_quantize ~0.8 s of
 * single-task eval at sf0.1. Mirrored quirks, load-bearing for parity:
 * null elements quantize to 127 under a non-zero scale (Least/Greatest
 * SKIP nulls, so `greatest(-127, least(127, null))` = 127) and to 0 under
 * scale 0 (the constant-0 lambda ignores the element); a NaN element
 * makes scale NaN (Greatest ranks NaN largest), every ratio then rounds
 * through NaN, and the int cast RAISES — Spark 4 runs ANSI by default,
 * so the HOF chain throws CAST_OVERFLOW on non-finite input and this
 * expression throws a matching ArithmeticException. Finite inputs can
 * never overflow: |x| <= max|x| = 127·scale bounds every ratio to
 * [-127, 127] by construction.
 */
case class QuantizeInt8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QuantizeInt8.outType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quantize_int8 requires an array<double> column, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    QuantizeInt8.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantizeInt8.compute($c)")

  override protected def withNewChildInternal(c: Expression): QuantizeInt8 =
    copy(child = c)
}

object QuantizeInt8 {
  val outType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("qvec", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  /** Shared by the interpreted and generated paths. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        // Greatest semantics: NaN ranks above everything and sticks (a NaN
        // `a` poisons m; once m is NaN no later element may replace it)
        if (!java.lang.Double.isNaN(m) && !(a <= m)) m = a
      }
      i += 1
    }
    val scale = m / 127.0
    val out = new Array[Int](n)
    if (scale != 0.0) { // NaN scale lands here, like `when(scale === 0)`
      var j = 0
      while (j < n) {
        out(j) =
          if (arr.isNullAt(j)) 127 // least/greatest skip the null candidate
          else {
            val r = arr.getDouble(j) / scale
            if (java.lang.Double.isNaN(r) || java.lang.Double.isInfinite(r))
              // a non-finite ratio only arises from NaN/Inf elements; the
              // HOF chain's double→int cast raises CAST_OVERFLOW
              // there (ANSI, the Spark 4 default) — match it
              throw new ArithmeticException(
                "quantize_int8: non-finite quantization ratio " +
                  s"($r — NaN/Inf element in the vector)")
            val rd = java.math.BigDecimal.valueOf(r)
              .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
            val q = rd.toInt
            if (q > 127) 127 else if (q < -127) -127 else q
          }
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(out)))
  }
}

object GraftFunctions {

  def rolling_hash(c: Column): Column =
    bridge.column(RollingHash(bridge.expression(c)))

  def shingles(c: Column, n: Int): Column =
    bridge.column(Shingles(bridge.expression(c), n))

  def vec_cosine(a: Column, b: Column): Column =
    bridge.column(VecCosine(bridge.expression(a), bridge.expression(b)))

  def dv_contains(runs: Column, pos: Column): Column =
    bridge.column(DvContains(bridge.expression(runs), bridge.expression(pos)))

  def vec_l2(a: Column, b: Column): Column =
    bridge.column(VecL2(bridge.expression(a), bridge.expression(b)))

  def wrapping_affine(c: Column, a: Long, b: Long): Column =
    bridge.column(WrappingAffine(bridge.expression(c), a, b))

  def simhash64(tokenHashes: Column): Column =
    bridge.column(SimHash64(bridge.expression(tokenHashes)))

  def array_eq_count(a: Column, b: Column): Column =
    bridge.column(ArrayLongEqCount(bridge.expression(a), bridge.expression(b)))

  def hyperplane_sig(vec: Column, coeffs: Seq[Seq[Double]]): Column =
    bridge.column(HyperplaneSig(bridge.expression(vec), coeffs))

  def char_entropy(c: Column): Column =
    bridge.column(CharEntropy(bridge.expression(c)))

  def nfc_normalize(c: Column): Column =
    bridge.column(NfcNormalize(bridge.expression(c)))

  def pq_adc_table(qv: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqAdcTable(bridge.expression(qv), codebooks))

  def token_pairs(tokens: Column, window: Int): Column =
    bridge.column(TokenPairs(bridge.expression(tokens), window))

  def sorted_pairs(arr: Column): Column =
    bridge.column(SortedPairs(bridge.expression(arr)))

  def token_shingle_hashes(tokens: Column, mixA: Seq[Long],
      mixB: Seq[Long]): Column =
    bridge.column(TokenShingleHashes(bridge.expression(tokens), mixA, mixB))

  def quantize_int8(vec: Column): Column =
    bridge.column(QuantizeInt8(bridge.expression(vec)))

  def pq_encode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    bridge.column(PqEncodeCodes(bridge.expression(vec), codebooks))

  def pq_recon_norm(codes: Column, norms: Seq[Seq[Double]]): Column =
    bridge.column(PqReconNorm(bridge.expression(codes), norms))

  def pq_adc_sum(codes: Column, table: Column, ksub: Int): Column =
    bridge.column(PqAdcSum(bridge.expression(codes), bridge.expression(table), ksub))

  /** Register the native expressions for SQL use in this session. */
  def register(spark: SparkSession): Unit = {
    // arity validated HERE: builders run during analysis, so a wrong call
    // must be an analysis error, never a bare IndexOutOfBounds — and a
    // SURPLUS argument must not be silently dropped (hiding a user's
    // mistake behind a plausible result)
    def arity(name: String, n: Int)(
        build: Seq[Expression] => Expression): Seq[Expression] => Expression =
      exprs => {
        require(exprs.length == n,
          s"$name takes exactly $n argument(s), got ${exprs.length}")
        build(exprs)
      }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", arity("rolling_hash(text)", 1)(e => RollingHash(e.head)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_cosine", arity("vec_cosine(a, b)", 2)(e => VecCosine(e.head, e(1))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_l2", arity("vec_l2(a, b)", 2)(e => VecL2(e.head, e(1))), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_eq_count",
      arity("array_eq_count(a, b)", 2)(e => ArrayLongEqCount(e.head, e(1))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", arity("simhash64(hashes)", 1)(e => SimHash64(e.head)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_entropy", arity("char_entropy(text)", 1)(e => CharEntropy(e.head)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize",
      arity("nfc_normalize(text)", 1)(e => NfcNormalize(e.head)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingles", exprs => {
        // validate here: the builder runs during analysis, so bad calls
        // must surface as analysis errors, not IndexOutOfBounds /
        // ClassCastException internals. n must be a foldable integral —
        // the shingle width is part of the expression's identity
        require(exprs.length == 2,
          s"shingles(tokens, n) takes exactly 2 arguments, got ${exprs.length}")
        require(exprs(1).foldable,
          "shingles(tokens, n): n must be a literal (foldable) integer")
        val n = exprs(1).eval() match {
          case i: Int => i
          case l: Long if l.isValidInt => l.toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"shingles(tokens, n): n must be an integer literal, got $other")
        }
        Shingles(exprs.head, n)
      }, "built-in")
  }
}

/** Count of positions where two long-array columns hold equal values —
  * the MinHash signature-overlap kernel. Codegen'd tight loop, no per-row
  * array allocation (vs zip_with + filter). */
case class ArrayLongEqCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  // mismatched lengths / null elements -> NULL, like [[VecCosine]]: a
  // truncated positional agreement count over-estimates MinHash
  // similarity exactly for the malformed signatures
  override def nullable: Boolean = true

  @transient private lazy val checkNulls = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_eq_count requires two array<bigint> columns, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var c = 0; var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val nullCheck =
        if (checkNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          int $c = 0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            if ($a.getLong($i) == $b.getLong($i)) $c++;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $c;
          }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayLongEqCount =
    copy(left = l, right = r)
}

/** Deletion-vector membership: is row index `pos` covered by the sorted
  * run-length encoding `runs` = [start0, len0, start1, len1, …]? Binary
  * search over the run STARTS (even indices), then a bounds check against
  * the candidate run — O(log #runs) per row, versus the O(#runs) linear
  * `exists()` HOF scan, on the merge-on-read hot read path where every
  * surviving data row of a DV-bearing file pays one membership probe. */
case class DvContains(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dv_contains requires (array<bigint>, bigint), got $l, $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val runs = a.asInstanceOf[ArrayData]
    val pos = b.asInstanceOf[Long]
    val n = runs.numElements() / 2
    var lo = 0; var hi = n - 1; var hit = false
    while (lo <= hi && !hit) {
      val mid = (lo + hi) >>> 1
      val start = runs.getLong(2 * mid)
      if (pos < start) hi = mid - 1
      else if (pos >= start + runs.getLong(2 * mid + 1)) lo = mid + 1
      else hit = true
    }
    hit
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val start = ctx.freshName("start")
      val hit = ctx.freshName("hit")
      s"""
        int $lo = 0;
        int $hi = $a.numElements() / 2 - 1;
        boolean $hit = false;
        while ($lo <= $hi && !$hit) {
          int $mid = ($lo + $hi) >>> 1;
          long $start = $a.getLong(2 * $mid);
          if ($b < $start) $hi = $mid - 1;
          else if ($b >= $start + $a.getLong(2 * $mid + 1)) $lo = $mid + 1;
          else $hit = true;
        }
        ${ev.value} = $hit;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DvContains =
    copy(left = l, right = r)
}

/** Multi-plane random-hyperplane LSH signature in ONE pass over the vector:
  * bit p of the result is set iff `vec · coeffs(p) >= 0`. The coefficient
  * matrix (planes x dim) is a driver-side constant shipped as a codegen
  * reference object, so each row costs planes*dim fused multiply-adds with
  * no intermediate arrays — versus the `planes` separate interpreted
  * `aggregate(zip_with(...))` folds (each allocating a dim-length array per
  * row) of the higher-order-function formulation. Each plane's projection
  * accumulates left-to-right from 0.0 exactly like the sequential fold, so
  * signatures are bit-identical to the HOF form and to the DuckDB oracle's
  * `list_sum(list_transform(list_zip(...)))` replay. */
case class HyperplaneSig(child: Expression, coeffs: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      if (coeffs.nonEmpty && coeffs.size <= 64 &&
        coeffs.forall(_.size == coeffs.head.size)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig needs 1..64 equal-length coefficient rows, got ${coeffs.size}")
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires a float/double array column, got $t")
  }

  @transient private lazy val matrix: Array[Array[Double]] =
    coeffs.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isD = elemIsDouble
    var sig = 0L
    var p = 0
    while (p < matrix.length) {
      val row = matrix(p)
      val n = math.min(row.length, v.numElements())
      var acc = 0.0
      var d = 0
      while (d < n) {
        val x = if (isD) v.getDouble(d) else v.getFloat(d).toDouble
        acc += x * row(d)
        d += 1
      }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val get = if (elemIsDouble) "getDouble" else "getFloat"
      val m = ctx.addReferenceObj("planeCoeffs", matrix, "double[][]")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      s"""
        long $sig = 0L;
        for (int $p = 0; $p < $m.length; $p++) {
          double[] $row = $m[$p];
          int $n = java.lang.Math.min($row.length, $c.numElements());
          double $acc = 0.0;
          for (int $d = 0; $d < $n; $d++) {
            $acc += ((double) $c.$get($d)) * $row[$d];
          }
          if ($acc >= 0) $sig |= (1L << $p);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Wrapping affine transform `a*x + b` over longs (Java two's-complement
  * semantics) — the minhash permutation family. A plain Column multiply
  * would throw under ANSI mode; hash mixing WANTS the wraparound. */
case class WrappingAffine(child: Expression, a: Long, b: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wrapping_affine requires a bigint column, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    input.asInstanceOf[Long] * a + b

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c * ${a}L + ${b}L;")

  override protected def withNewChildInternal(newChild: Expression): WrappingAffine =
    copy(child = newChild)
}

/** 64-bit SimHash from an array of token hashes: each hash votes its bits
  * +1/-1; the sign of each bit's vote total forms the fingerprint. One
  * codegen'd loop per row replaces an explode + 64 conditional-sum
  * aggregates (no shuffle at all). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<bigint> of token hashes, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
        int[] $votes = new int[64];
        for (int $i = 0; $i < $c.numElements(); $i++) {
          long $h = $c.getLong($i);
          for (int $b = 0; $b < 64; $b++) {
            if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
          }
        }
        long $fp = 0L;
        for (int $b = 0; $b < 64; $b++) {
          if ($votes[$b] > 0) $fp |= (1L << $b);
        }
        ${ev.value} = $fp;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Shannon entropy (nats) of the character distribution of a string,
  * restricted to the 27-symbol alphabet `a`..`z` + space (input is expected
  * pre-lowercased). One codegen'd pass over the bytes replaces an explode +
  * per-char groupBy, so the quality signal never shuffles. Terms are summed
  * in fixed alphabet order (`a`..`z`, then space) so the double result is
  * bit-identical to any oracle that folds counts in the same order. */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy requires a string column, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val counts = new Array[Long](27)
    var total = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') { counts(b - 'a') += 1; total += 1 }
      else if (b == ' ') { counts(26) += 1; total += 1 }
      i += 1
    }
    if (total == 0L) 0.0
    else {
      var h = 0.0
      var k = 0
      while (k < 27) {
        val c = counts(k)
        if (c > 0L) {
          val p = c.toDouble / total
          h -= p * math.log(p)
        }
        k += 1
      }
      h
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val counts = ctx.freshName("counts")
      val total = ctx.freshName("total")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val p = ctx.freshName("p")
      val b = ctx.freshName("b") // the one non-fresh name in the file's
      // templates would collide if this fragment inlines next to another
      // scope declaring 'b' — codegen would fall back to interpreted
      s"""
        byte[] $bytes = $c.getBytes();
        long[] $counts = new long[27];
        long $total = 0L;
        for (int $i = 0; $i < $bytes.length; $i++) {
          byte $b = $bytes[$i];
          if ($b >= 'a' && $b <= 'z') { $counts[$b - 'a']++; $total++; }
          else if ($b == ' ') { $counts[26]++; $total++; }
        }
        double $h = 0.0;
        if ($total > 0L) {
          for (int $k = 0; $k < 27; $k++) {
            if ($counts[$k] > 0L) {
              double $p = (double) $counts[$k] / $total;
              $h -= $p * java.lang.Math.log($p);
            }
          }
        }
        ${ev.value} = $h;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}
