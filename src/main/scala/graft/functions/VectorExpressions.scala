package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Native Catalyst expression for vector dot products over
  * array<float> / array<double> / array<bigint> columns (bigint elements
  * widen to double exactly like the interpreted idiom's `x.cast("double")`
  * — the PQ reconstructions are milli-integer vectors, r10).
  *
  * The interpreted equivalent — `aggregate(zip_with(a, b, ...), ...)` —
  * costs ~1 µs per ELEMENT (lambda dispatch + boxing); over 64-d vectors
  * on hundreds of thousands of candidate pairs that dominates a
  * similarity query. This expression stays inside whole-stage codegen: a
  * tight primitive loop, ~30 ns per vector pair.
  *
  * Accumulation order is i = 0..n-1 in double, identical to the
  * interpreted fold and to the DuckDB oracle's list_sum — bit-identical
  * results.
  *
  * Null semantics mirror the interpreted idiom exactly: zip_with
  * null-pads unequal-length inputs and a null element nulls its product,
  * so the fold returns NULL in both cases — this kernel returns NULL on
  * length mismatch or any null element for the same inputs.
  */
case class VectorDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // NULL can arise from non-null inputs (length mismatch / null element).
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(LongType, _) => Some(LongType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double>/array<bigint> " +
        s"arguments, got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  private def get(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => a.getFloat(i).toDouble
    case LongType => a.getLong(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left).get, elemType(right).get)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += get(x, lt, i) * get(y, rt, i)
      i += 1
    }
    s
  }

  private def genGet(arr: String, dt: DataType, i: String): String = dt match {
    case FloatType => s"((double) $arr.getFloat($i))"
    case LongType => s"((double) $arr.getLong($i))"
    case _ => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${genGet(a, elemType(left).get, i)} * ${genGet(b, elemType(right).get, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact squared-L2 distance over array<long> columns — the Lloyd
  * assignment kernel. Bit-identical to the interpreted idiom
  * `aggregate(zip_with(a, b, (x, y) -> (x−y)*(x−y)), 0L, acc + v)` (and
  * to the DuckDB oracle's list_sum over the same integer math): int64
  * arithmetic end to end, accumulation order i = 0..n−1, NULL on length
  * mismatch or any null element. Values are milli-quantized embedding
  * coordinates, so each term ≤ ~4e6 and a 64-d sum ≤ ~2.6e8 — far from
  * overflow. The k-means assignment evaluates this N×k times per round;
  * staying inside whole-stage codegen (tight primitive loop) instead of
  * the ~1 µs/element lambda fold is what keeps dynamic-k blocking
  * (k ∝ N/128, q77) viable as N grows. */
case class LongVectorSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private def isLongArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArr(left) && isLongArr(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "vector_sqdist_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The flattened-matrix argmin loop of the two per-row nearest-row
  * kernels, [[PqArgminCodeword]] and [[ArgminCentroid]]: one
  * codegen'd expression per row, scanning every candidate of a
  * FLATTENED matrix.
  *
  *  - `first`: the row's vector, array<bigint> of length sd;
  *  - `second`: the candidate matrix, array<bigint> of length nc·sd —
  *    nc rows flattened in ASCENDING-id order (the callers build it
  *    sorted, which is what makes the tie rule below hold);
  *  - `third`: the nc candidate ids, array<bigint>, same order.
  *
  * Picks the minimum int64 squared-L2 distance; ties keep the FIRST
  * (= smallest id) — bit-identical to a `min(struct(d2, id))`
  * aggregate over the fanned-out pairs and to the oracle's
  * `row_number() OVER (ORDER BY d2, id)`. The kernel does the same
  * int64 arithmetic as that fan-out in a tight primitive loop with NO
  * fan-out, NO aggregate, NO shuffle. NULL on an empty/misshapen
  * matrix or null elements. Each subclass maps the winning (id, d2)
  * pair to its result. */
abstract class FlatArgmin extends TernaryExpression {

  override def nullable: Boolean = true

  private def isLongArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(isLongArr))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, got " +
        s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}")

  /** The result of the winning id and its squared distance. */
  protected def result(id: Long, d2: Long): Any

  /** [[result]] as a Java expression over the two long variables. */
  protected def genResult(id: String, d2: String): String

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val sq = a.asInstanceOf[ArrayData]
    val cv = b.asInstanceOf[ArrayData]
    val cw = c.asInstanceOf[ArrayData]
    val sd = sq.numElements()
    val nc = cw.numElements()
    if (nc == 0 || cv.numElements() != nc * sd) return null
    var i = 0
    while (i < sd) { if (sq.isNullAt(i)) return null; i += 1 }
    var best = Long.MaxValue
    var bestCw = 0L
    var j = 0
    while (j < nc) {
      if (cw.isNullAt(j)) return null
      var s = 0L
      var k = 0
      while (k < sd) {
        val off = j * sd + k
        if (cv.isNullAt(off)) return null
        val d = sq.getLong(k) - cv.getLong(off)
        s += d * d
        k += 1
      }
      if (s < best) { best = s; bestCw = cw.getLong(j) }
      j += 1
    }
    result(bestCw, best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val sd = ctx.freshName("sd")
      val nc = ctx.freshName("nc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestCw = ctx.freshName("bestCw")
      s"""
         |int $sd = $a.numElements();
         |int $nc = $c.numElements();
         |if ($nc == 0 || $b.numElements() != $nc * $sd) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $sd; $i++)
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $best = Long.MAX_VALUE;
         |  long $bestCw = 0L;
         |  for (int $j = 0; !${ev.isNull} && $j < $nc; $j++) {
         |    if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    long $s = 0L;
         |    for (int $k = 0; $k < $sd; $k++) {
         |      int $off = $j * $sd + $k;
         |      if ($b.isNullAt($off)) { ${ev.isNull} = true; break; }
         |      long $d = $a.getLong($k) - $b.getLong($off);
         |      $s += $d * $d;
         |    }
         |    if (!${ev.isNull} && $s < $best) { $best = $s; $bestCw = $c.getLong($j); }
         |  }
         |  if (!${ev.isNull}) ${ev.value} = ${genResult(bestCw, best)};
         |}
       """.stripMargin
    })
}

/** PQ encode kernel (r10, VERDICT r9 Next #1): the nearest-codeword id
  * of a subspace slice against a flattened cw-ascending codebook. The
  * r9 plan reached the same argmin by fanning every row out ×kCw
  * through a broadcast join and shuffling a partial-agg min — a 4096×
  * row amplification whose measured sf1x encode slope was ~7×. */
case class PqArgminCodeword(first: Expression, second: Expression,
                            third: Expression) extends FlatArgmin {

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_argmin_codeword"

  override protected def result(id: Long, d2: Long): Any = id
  override protected def genResult(id: String, d2: String): String = id

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** IVF coarse-assignment kernel: the nearest centroid of a quantized
  * vector against the flattened id-ascending centroid matrix, as
  * struct(cluster, dist) — the cell and its int64 squared distance.
  * Serves every coarse assignment: the Lloyd rounds, the full-corpus
  * and the frozen-table assignments. */
case class ArgminCentroid(first: Expression, second: Expression,
                          third: Expression) extends FlatArgmin {

  override def dataType: DataType = ArgminCentroid.Result
  override def prettyName: String = "argmin_centroid"

  override protected def result(id: Long, d2: Long): Any =
    new GenericInternalRow(Array[Any](id, d2))
  override protected def genResult(id: String, d2: String): String =
    s"new ${classOf[GenericInternalRow].getName}(" +
      s"new Object[]{Long.valueOf($id), Long.valueOf($d2)})"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ArgminCentroid {
  val Result: StructType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))
}

/** Symmetric int8 PACK of an array<float> embedding to a binary column
  * — the SQ8 index representation (q213): per-vector scale =
  * max|x|/127 (the q74 rule), each element ROUND-HALF-AWAY-FROM-ZERO
  * of x/scale into one signed byte. A packed vector is dim bytes —
  * 4× smaller than array<float> and ~4.5× smaller than array<long> —
  * which is the whole point of the SQ8 tier: the scan index fits in
  * memory at corpus sizes where floats do not. An all-zero vector
  * (scale 0) packs to zero bytes, mirroring the oracle's CASE guard.
  *
  * Rounding goes through BigDecimal HALF_UP — the exact path of
  * Spark's own `round(x, 0)` and of DuckDB's `round` for doubles — so
  * the packed values are bit-identical to the oracle's list-domain
  * quantization. Build-path only (one pass at index build), so
  * CodegenFallback is acceptable; the serve-path hot kernel is
  * [[Int8PackedDot]]. */
case class Int8PackVector(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.sql}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "int8_pack"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def get(i: Int): Double =
      if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(get(i)); if (v > mx) mx = v
      i += 1
    }
    val scale = mx / 127.0
    val out = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        out(i) = BigDecimal(get(i) / scale)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt.toByte
        i += 1
      }
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Signed-byte dot product of two packed SQ8 vectors — the serve-path
  * kernel of the q213 scan tier, whole-stage-codegen'd: one tight
  * byte-array loop per pair, int64 accumulation (64·127² ≈ 1e6 per
  * vector pair — overflow-free by orders of magnitude). Self-dot gives
  * the squared quantized norm, so cosine needs no stored scale at all
  * (cosine is invariant under the per-vector scaling). NULL on length
  * mismatch, mirroring the house kernels. */
case class Int8PackedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.BinaryType &&
        right.dataType == org.apache.spark.sql.types.BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "int8_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    var s = 0L
    var i = 0
    while (i < x.length) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    $s += ((long) $a[$i]) * ((long) $b[$i]);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Dot product of two array<float|double> columns, in double. */
  def floatDot(a: Column, b: Column): Column =
    GraftShims.column(VectorDotProduct(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** L2 norm of an array<float|double> column. */
  def floatNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(floatDot(a, a))

  /** Exact int64 squared-L2 distance of two array<bigint> columns. */
  def longSqDist(a: Column, b: Column): Column =
    GraftShims.column(LongVectorSqDist(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** Nearest-codeword id of subspace slice `sq` against the flattened
    * cw-ascending codebook (`cvFlat`, stride = sq length; `cwIds`). */
  def pqArgmin(sq: Column, cvFlat: Column, cwIds: Column): Column =
    GraftShims.column(PqArgminCodeword(GraftShims.expression(sq),
      GraftShims.expression(cvFlat), GraftShims.expression(cwIds)))

  /** Nearest centroid of a quantized vector `qe` against the flattened
    * id-ascending centroid matrix (`cFlat`, stride = qe length; `cIds`),
    * as struct(cluster, dist). */
  def argminCentroid(qe: Column, cFlat: Column, cIds: Column): Column =
    GraftShims.column(ArgminCentroid(GraftShims.expression(qe),
      GraftShims.expression(cFlat), GraftShims.expression(cIds)))

  /** SQ8 pack of an array<float|double> column into a binary column. */
  def int8Pack(a: Column): Column =
    GraftShims.column(Int8PackVector(GraftShims.expression(a)))

  /** Signed-byte dot of two packed SQ8 binary columns, as long. */
  def int8Dot(a: Column, b: Column): Column =
    GraftShims.column(Int8PackedDot(
      GraftShims.expression(a), GraftShims.expression(b)))
}
