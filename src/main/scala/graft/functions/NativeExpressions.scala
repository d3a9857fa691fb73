// Declared inside the org.apache.spark.sql package hierarchy because
// AbstractDataType / ExpressionUtils are private[sql]; this is the
// standard pattern for Spark-native extension libraries.
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, TypeCollection}

/** Fused dot product over two array<double|float> columns as a native
  * Catalyst expression with whole-stage codegen (SURVEY §4 item 1).
  *
  * The higher-order-function formulation
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` allocates an
  * intermediate array and runs interpreted lambdas per element; this
  * expression is a single fused loop over the two UnsafeArrayData
  * buffers — the JVM analog of the reference's `np.dot`
  * (reference `src/pipeline/utils.py:24`). Summation is sequential
  * left-to-right double accumulation, bit-identical to the HOF
  * version and to DuckDB's `list_dot_product`, so oracle parity is
  * unaffected.
  *
  * An array<float> side is read as `(double) getFloat(i)` — the exact
  * widening a cast to array<double> performs, without materializing
  * the cast array for every row. Any other numeric array casts
  * implicitly to array<double>, never to float.
  *
  * NULL contract matches the HOF form exactly: NULL when either input
  * is NULL, when the lengths differ (zip_with would null-pad, and the
  * null propagates through the sum), or when any element is NULL. The
  * per-element null check is compiled away when both array types are
  * containsNull = false — the engine's own vector columns.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // double first: implicit casts pick the first type that fits
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(2)(
    TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // NULL on length mismatch / null element, even for non-null inputs
  override def nullable: Boolean = true

  private lazy val elemsMayBeNull: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val leftFloat = isFloat(left)
  private lazy val rightFloat = isFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (elemsMayBeNull && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val nullCheck =
        if (elemsMayBeNull)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      def elem(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += ${elem(a, leftFloat)} * ${elem(b, rightFloat)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused L2 normalization: out[i] = v[i] / (sqrt(Σ v[j]²) + 1e-9) as
  * one codegen'd pass (norm loop + divide loop over the same
  * UnsafeArrayData), replacing the interpreted
  * `zip_with(v, array_repeat(norm, size), _/_)` chain that sat in
  * every per-row normalize hot path (DP vectors, RAG scoring, the
  * σ-sweep). Accumulation is the same left-to-right double sum, and
  * the 1e-9 epsilon is the reference's (`src/pipeline/utils.py:9-15`),
  * so results are bit-identical to the HOF form and the DuckDB
  * replays (VectorFSpec pins it).
  *
  * NULL contract matches the HOF form: NULL input → NULL; a NULL
  * ELEMENT nulls the norm, and dividing by a null norm nulls every
  * output element — so the result is an array of NULLs of the same
  * length, exactly what `zip_with` against a null-filled repeat
  * produces. */
case class L2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })
  override def prettyName: String = "graft_l2norm"

  private lazy val elemsMayBeNull: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0
    var anyNull = false
    var s = 0.0
    while (i < n) {
      if (elemsMayBeNull && x.isNullAt(i)) { anyNull = true; i = n }
      else { val v = x.getDouble(i); s += v * v; i += 1 }
    }
    if (anyNull) {
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](n)) // all-null elements, HOF-compatible
    } else {
      val nrm = math.sqrt(s) + 1e-9
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = x.getDouble(i) / nrm; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      val anyNull = ctx.freshName("anyNull")
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val nullCheck =
        if (elemsMayBeNull) s"if ($a.isNullAt($i)) { $anyNull = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |boolean $anyNull = false;
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  final double v = $a.getDouble($i);
         |  $s += v * v;
         |}
         |if ($anyNull) {
         |  ${ev.value} = new $gad(new Object[$n]);
         |} else {
         |  final double $nrm = java.lang.Math.sqrt($s) + 1e-9;
         |  final double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $a.getDouble($i) / $nrm;
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

object NativeExpressions {
  /** Column-API wrapper for [[DotProduct]]. */
  def dotNative(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-API wrapper for [[L2Normalize]]. */
  def l2normNative(v: Column): Column =
    ExpressionUtils.column(L2Normalize(ExpressionUtils.expression(v)))

  /** Column-API wrapper for [[PQReconstruct]]. */
  def pqReconstructNative(v: Column, codebook: Column, m: Int): Column =
    ExpressionUtils.column(PQReconstruct(
      ExpressionUtils.expression(v), ExpressionUtils.expression(codebook), m))

  /** Column-API wrapper for [[SqPack]]. */
  def sqPackNative(codes: Column): Column =
    ExpressionUtils.column(SqPack(ExpressionUtils.expression(codes)))

  /** Column-API wrapper for [[SqAdc]]. */
  def sqAdcNative(codes: Column, lo: Column, hi: Column, qv: Column): Column =
    ExpressionUtils.column(SqAdc(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(lo),
      ExpressionUtils.expression(hi), ExpressionUtils.expression(qv)))
}

/** Pack uint8 scalar-quantization codes (array<int>, each already in
  * [0, 255] — clamped defensively here) into a BINARY column: 1 byte
  * per dimension at rest instead of parquet's per-element list
  * overhead on top of 8-byte doubles — the 8x storage lever of the
  * SQ8 index format (FAISS `IndexIVFScalarQuantizer(QT_8bit)`; the
  * reference keeps float32 vectors in every index,
  * `src/pipeline/pipeline.py:126-134`, which is exactly what does not
  * fit at 100 TB). Write-path only; the hot read path is [[SqAdc]].
  *
  * NULL contract: NULL input → NULL; a NULL element → NULL (a code
  * either exists for every dimension or the row is unusable). */
case class SqPack(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_sq_pack"
  override def nullable: Boolean = true

  private lazy val elemsMayBeNull: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (elemsMayBeNull && x.isNullAt(i)) return null
      val v = x.getInt(i)
      out(i) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      val nullCheck =
        if (elemsMayBeNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |final byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  final int $v = $a.getInt($i);
         |  $out[$i] = (byte) ($v < 0 ? 0 : ($v > 255 ? 255 : $v));
         |}
         |if (!${ev.isNull}) ${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SqPack =
    copy(child = newChild)
}

/** Fused asymmetric-distance (ADC) scoring over packed SQ8 codes: one
  * codegen'd loop computing
  * `Σ_d (lo[d] + c_d * ((hi[d] - lo[d]) / 255.0)) * qv[d]` where
  * `c_d = codes[d] & 0xFF` — the dequantize-and-dot of a scalar-
  * quantized inverted list WITHOUT materializing the dequantized
  * array (FAISS's SQ8 ADC scan, the query-side half of
  * `IndexIVFScalarQuantizer`). The per-element arithmetic is written
  * exactly as the oracle's
  * `list_dot_product(list_transform(...dequant...), qv)` evaluates
  * it (same operand order, left-to-right double accumulation), so the
  * scores are bit-identical cross-engine.
  *
  * NULL contract: NULL in any input → NULL; length mismatch between
  * the code bytes and any array → NULL; a NULL array element → NULL. */
case class SqAdc(first: Expression, second: Expression,
                 third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType),
      ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq_adc"
  override def nullable: Boolean = true

  private lazy val elemsMayBeNull: Boolean =
    Seq(second, third, fourth).exists {
      _.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => true
      }
    }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val lo = b.asInstanceOf[ArrayData]
    val hi = c.asInstanceOf[ArrayData]
    val qv = d.asInstanceOf[ArrayData]
    val n = codes.length
    if (lo.numElements() != n || hi.numElements() != n ||
      qv.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (elemsMayBeNull &&
        (lo.isNullAt(i) || hi.isNullAt(i) || qv.isNullAt(i))) return null
      val l = lo.getDouble(i)
      val cd = (codes(i) & 0xFF).toDouble
      s += (l + cd * ((hi.getDouble(i) - l) / 255.0)) * qv.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val l = ctx.freshName("l")
      val cd = ctx.freshName("cd")
      val nullCheck =
        if (elemsMayBeNull)
          s"""if ($b.isNullAt($i) || $c.isNullAt($i) || $d.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |final int $n = $a.length;
         |if ($b.numElements() != $n || $c.numElements() != $n ||
         |    $d.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    final double $l = $b.getDouble($i);
         |    final double $cd = (double) ($a[$i] & 0xFF);
         |    $s += ($l + $cd * (($c.getDouble($i) - $l) / 255.0)) * $d.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SqAdc =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

/** Fused product-quantization reconstruction: split the input vector
  * into `m` equal subspaces, pick per subspace the codebook entry
  * minimizing ||x_i − c_i||² (computed as dot(c_i,c_i) − 2·dot(x_i,c_i),
  * strict `<`, ties to the LOWEST index), and emit the concatenation
  * of the chosen sub-centroids. One codegen'd pass over the
  * UnsafeArrayData buffers — replaces the interpreted
  * `aggregate(...)` fold that dominated q59's per-row cost (the fold
  * survives as [[graft.search.PQ.adcTopKHof]], the A/B semantic
  * reference; PQSpec pins bit-equality).
  *
  * Contract (matches the fold exactly): NULL input → NULL; vector
  * length not divisible by m → NULL; a codebook entry participates in
  * subspace i only if it is non-null, long enough, and null-free over
  * that subspace (the fold's mismatched/null dot evaluates to NULL and
  * is skipped by `<`); a subspace where NO entry participates —
  * including when the vector itself has a NULL element there —
  * contributes nothing, shortening the output exactly like concat of
  * an empty fold result. Distances that compare NaN are skipped, as
  * `NaN < acc` is false in both the fold and Java. */
case class PQReconstruct(left: Expression, right: Expression, m: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_reconstruct"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (m < 1 || n % m != 0) return null
    val sub = n / m
    val out = new Array[Double](n)
    var w = 0
    var i = 0
    while (i < m) {
      val lo = i * sub
      var xmNull = false
      var k = 0
      while (k < sub && !xmNull) { xmNull = v.isNullAt(lo + k); k += 1 }
      var best = -1
      var bestD = Double.PositiveInfinity
      if (!xmNull) {
        var j = 0
        while (j < cb.numElements()) {
          if (!cb.isNullAt(j)) {
            val e = cb.getArray(j)
            if (e.numElements() >= lo + sub) {
              var eNull = false
              var s1 = 0.0
              var s2 = 0.0
              k = 0
              while (k < sub && !eNull) {
                if (e.isNullAt(lo + k)) eNull = true
                else {
                  val c = e.getDouble(lo + k)
                  s1 += c * c
                  s2 += v.getDouble(lo + k) * c
                  k += 1
                }
              }
              if (!eNull) {
                val d = s1 - 2.0 * s2
                if (d < bestD) { bestD = d; best = j }
              }
            }
          }
          j += 1
        }
      }
      if (best >= 0) {
        val e = cb.getArray(best)
        k = 0
        while (k < sub) { out(w) = e.getDouble(lo + k); w += 1; k += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == n) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val sub = ctx.freshName("sub")
      val out = ctx.freshName("out")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val lo = ctx.freshName("lo")
      val xmNull = ctx.freshName("xmNull")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val e = ctx.freshName("e")
      val eNull = ctx.freshName("eNull")
      val s1 = ctx.freshName("s1")
      val s2 = ctx.freshName("s2")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val ad = classOf[ArrayData].getName
      s"""
         |final int $n = $a.numElements();
         |if ($m < 1 || $n % $m != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $sub = $n / $m;
         |  final double[] $out = new double[$n];
         |  int $w = 0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    final int $lo = $i * $sub;
         |    boolean $xmNull = false;
         |    for (int $k = 0; $k < $sub && !$xmNull; $k++) {
         |      $xmNull = $a.isNullAt($lo + $k);
         |    }
         |    int $best = -1;
         |    double $bestD = Double.POSITIVE_INFINITY;
         |    if (!$xmNull) {
         |      for (int $j = 0; $j < $b.numElements(); $j++) {
         |        if ($b.isNullAt($j)) continue;
         |        final $ad $e = $b.getArray($j);
         |        if ($e.numElements() < $lo + $sub) continue;
         |        boolean $eNull = false;
         |        double $s1 = 0.0;
         |        double $s2 = 0.0;
         |        for (int $k = 0; $k < $sub && !$eNull; $k++) {
         |          if ($e.isNullAt($lo + $k)) { $eNull = true; break; }
         |          final double $c = $e.getDouble($lo + $k);
         |          $s1 += $c * $c;
         |          $s2 += $a.getDouble($lo + $k) * $c;
         |        }
         |        if ($eNull) continue;
         |        final double $d = $s1 - 2.0 * $s2;
         |        if ($d < $bestD) { $bestD = $d; $best = $j; }
         |      }
         |    }
         |    if ($best >= 0) {
         |      final $ad $e = $b.getArray($best);
         |      for (int $k = 0; $k < $sub; $k++) {
         |        $out[$w++] = $e.getDouble($lo + $k);
         |      }
         |    }
         |  }
         |  ${ev.value} = new $gad(
         |    $w == $n ? $out : java.util.Arrays.copyOf($out, $w));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PQReconstruct =
    copy(left = newLeft, right = newRight)
}
