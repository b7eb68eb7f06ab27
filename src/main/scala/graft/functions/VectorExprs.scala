package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native expressions for the vector-similarity hot path (SURVEY §2.4).
  *
  * The exact-decimal dot product is also expressible as a zip_with +
  * aggregate fold over decimal casts (see Similarity.dotExact's history),
  * but HOF lambdas evaluate one expression tree per element — at 64 dims
  * × millions of candidate pairs the Decimal boxing dominates. These run
  * the loop imperatively while preserving BIT-FOR-BIT the fold's
  * semantics (and therefore DuckDB-oracle parity):
  *
  *   per-element product in double → round to 12 dp exactly like Spark's
  *   double→decimal cast (shortest-repr BigDecimal, HALF_UP) → exact sum
  *   → double. The sum is order-independent, so plans may reorder rows
  *   freely.
  */
private[graft] object ExactDecimal {
  /** Unscaled 12-dp value of `d`, identical to CAST(d AS DECIMAL(_,12)).
    * Spark's cast goes through BigDecimal.decimal(d) = valueOf(d)
    * (shortest decimal representation), then HALF_UP at scale 12.
    *
    * Fast path: the BigDecimal route (Double.toString + string parse per
    * element) dominates the vector-kernel hot loops, but its OUTPUT is a
    * pure rounding decision on d·1e12. Let y = fl(d·1e12) and D = the
    * shortest-repr decimal of d. |y − D·1e12| ≲ ulp(y) (half-ulp from
    * the multiply + half-ulp(d)·1e12 ≈ half-ulp(y) from the shortest
    * repr), so whenever y's fractional part sits further than 4·ulp(y)
    * from every rounding boundary {0, ½, 1}, floor/half-up decisions on
    * y and on D·1e12 provably coincide — pure double arithmetic, no
    * allocation. Near a boundary (or beyond 2^53) it falls back to the
    * exact BigDecimal route. HALF_UP's away-from-zero behavior for
    * negatives is preserved by the floor/frac formulation (frac > ½ ⇒
    * +1 applies to negative y exactly as HALF_UP does). PropertySpec
    * fuzzes equivalence against the BigDecimal reference. */
  def unscaled12(d: Double): Long = {
    if (d == 0.0) return 0L // covers ±0.0; zero products are common
    val y = d * 1e12
    if (java.lang.Math.abs(y) < 9.007199254740992e15) { // long-exact range
      val f = java.lang.Math.floor(y)
      val frac = y - f
      val tol = java.lang.Math.ulp(y) * 4.0
      if (frac > tol && frac < 1.0 - tol && java.lang.Math.abs(frac - 0.5) > tol)
        return f.toLong + (if (frac > 0.5) 1L else 0L)
    }
    unscaled12Reference(d)
  }

  /** The authoritative (slow) route — kept as the fallback and the
    * fuzz-test reference. */
  private[graft] def unscaled12Reference(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  def elem(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  def checkArrayNumeric(t: DataType, what: String): TypeCheckResult = t match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$what expects array<float|double>, got $other")
  }

  def checkMatrix(t: DataType, what: String): TypeCheckResult = t match {
    case ArrayType(ArrayType(DoubleType, _), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$what expects array<array<double>>, got $other")
  }

  /** Copy an ArrayData vector to double[]; null if any element is null. */
  def toDoubles(x: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = elem(x, isFloat, i)
      i += 1
    }
    out
  }

  /** Exact-decimal dot of two double[] — identical semantics to
    * DotExactExpr (12-dp HALF_UP per product, exact sum, → double). */
  def dotConst(a: Array[Double], b: Array[Double]): Double = {
    var sum = 0L
    var i = 0
    try {
      while (i < a.length) {
        sum = Math.addExact(sum, unscaled12(a(i) * b(i)))
        i += 1
      }
      java.math.BigDecimal.valueOf(sum, 12).doubleValue()
    } catch {
      case _: ArithmeticException =>
        var acc = java.math.BigDecimal.ZERO
        var j = 0
        while (j < a.length) {
          acc = acc.add(java.math.BigDecimal.valueOf(a(j) * b(j))
            .setScale(12, java.math.RoundingMode.HALF_UP))
          j += 1
        }
        acc.doubleValue()
    }
  }
}

/** Shared kernel state for the IVF expressions: the centroid matrix
  * arrives as a COLUMN (array<array<double>>) from Ivf's single-row
  * broadcast relation, so the Catalyst tree holds no centroid data at all
  * (round-2 lesson: O(nlist·dim) plan literals drag every tree
  * compare/hash/plan-string). The matrix is decoded and its exact-decimal
  * self-dots computed ONCE per expression instance and reused.
  *
  * CONTRACT: the matrix child must be row-constant — it rides a 1-row
  * broadcast join (see Ivf.centroidRelation). These expressions are
  * deliberately NOT registered on the SQL surface, where that contract
  * could not be enforced.
  */
trait CentroidMatrixKernel extends BinaryExpression {
  import ExactDecimal._
  @transient @volatile
  private var cache: (Array[Array[Double]], Array[Double]) = _

  /** Decoded centroids + exact-decimal squared norms, cached after the
    * first row (thread-safe: idempotent compute, volatile publish). */
  protected def centroidsOf(mat: ArrayData): (Array[Array[Double]], Array[Double]) = {
    var c = cache
    if (c == null) {
      val m = Array.tabulate(mat.numElements())(j => mat.getArray(j).toDoubleArray())
      val n2 = m.map(cj => dotConst(cj, cj))
      c = (m, n2)
      cache = c
    }
    c
  }

  /** Type checks of the query vector (left) and the centroid matrix
    * (right); a failure names `fn`. */
  protected def checkVectorAndMatrix(fn: String): TypeCheckResult = {
    val l = checkArrayNumeric(left.dataType, fn)
    if (l.isFailure) l else checkMatrix(right.dataType, fn)
  }
  @transient protected lazy val isFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** L2² distance in the exact arithmetic the oracle mirrors:
    * (n2x + n2c) − 2·dotExact(x, c), evaluated in double in that order. */
  protected def l2sq(x: Array[Double], n2x: Double, c: Array[Double], n2c: Double): Double =
    (n2x + n2c) - 2.0 * dotConst(x, c)
}

/** Exact-decimal dot product of two numeric arrays → double.
  * Null result when lengths differ or any touched element is null —
  * matching the zip_with/aggregate fold (null poisons the sum). */
case class DotExactExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {
  import ExactDecimal._
  override protected def resultJava: String = "java.lang.Double"
  override protected def resultNullable: Boolean = true
  override protected def unbox(boxed: String): String = s"$boxed.doubleValue()"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = checkArrayNumeric(left.dataType, "dot_exact")
    if (l.isFailure) l else checkArrayNumeric(right.dataType, "dot_exact")
  }
  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0L // unscaled at 12 dp; exact-overflow fallback below
    var i = 0
    try {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        sum = Math.addExact(sum,
          unscaled12(elem(x, leftFloat, i) * elem(y, rightFloat, i)))
        i += 1
      }
      java.math.BigDecimal.valueOf(sum, 12).doubleValue()
    } catch {
      case _: ArithmeticException => // unscaled overflow: exact big-int path
        var acc = java.math.BigDecimal.ZERO
        var j = 0
        while (j < n) {
          if (x.isNullAt(j) || y.isNullAt(j)) return null
          acc = acc.add(java.math.BigDecimal
            .valueOf(elem(x, leftFloat, j) * elem(y, rightFloat, j))
            .setScale(12, java.math.RoundingMode.HALF_UP))
          j += 1
        }
        acc.doubleValue()
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExactExpr =
    copy(left = l, right = r)
}

/** Deterministic md5-derived hyperplane weights, reproducible in SQL
  * engines: w(b,d) = ((first 8 md5 hex chars of "b_d" as an integer) mod
  * 2000001) / 1e6 − 1 ∈ [−1, 1]. */
object LshWeights {
  def hyperplane(bit: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      md.reset()
      val hx = md.digest(s"${bit}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hx, 16) % 2000001L).toDouble / 1000000.0 - 1.0
    }
  }
  def planes(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits)(b => hyperplane(b, dim))
}

/** Random-hyperplane LSH signature: bit b of the result is set iff the
  * exact-decimal projection of the vector onto LshWeights.hyperplane(b)
  * is >= 0. One imperative pass per row; bit-identical to `bits`
  * DotExactExpr sign tests (and the SQL oracle's per-bit decimal sums).
  *
  * The weights are DERIVED from (bits, dim) inside the expression rather
  * than stored as tree data: embedding 2048 doubles in a case-class field
  * makes every Catalyst tree comparison / hash / plan-string walk them,
  * which measurably drags whole-query planning (observed: multi-second
  * per-run overhead growing with plan reuse). */
case class LshSigExpr(child: Expression, bits: Int, dim: Int)
    extends UnaryExpression with UnaryKernelCodegen {
  import ExactDecimal._
  override protected def resultJava: String = "java.lang.Long"
  override protected def unbox(boxed: String): String = s"$boxed.longValue()"
  require(bits >= 1 && bits <= 64)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    checkArrayNumeric(child.dataType, "lsh_sig")
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val w: Array[Array[Double]] = LshWeights.planes(bits, dim)

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var sig = 0L
    var b = 0
    while (b < w.length) {
      val wb = w(b)
      // null element / length mismatch → null projection → bit unset
      // (matches when(proj >= 0, ...).otherwise(0) on a null proj)
      if (x.numElements() == wb.length) {
        var sum = 0L
        var i = 0
        var ok = true
        var overflow = false
        while (ok && !overflow && i < wb.length) {
          if (x.isNullAt(i)) ok = false
          else {
            try sum = Math.addExact(sum, unscaled12(elem(x, isFloat, i) * wb(i)))
            catch { case _: ArithmeticException => overflow = true }
            i += 1
          }
        }
        if (ok && overflow) { // exact big-decimal fallback for this bit
          var acc = java.math.BigDecimal.ZERO
          var j = 0
          while (ok && j < wb.length) {
            if (x.isNullAt(j)) ok = false
            else {
              acc = acc.add(java.math.BigDecimal
                .valueOf(elem(x, isFloat, j) * wb(j))
                .setScale(12, java.math.RoundingMode.HALF_UP))
              j += 1
            }
          }
          if (ok && acc.signum() >= 0) sig |= (1L << b)
        } else if (ok && sum >= 0L) sig |= (1L << b)
      }
      b += 1
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression): LshSigExpr =
    copy(child = c)
}

/** IVF cell assignment: argmin over centroids of the exact-decimal L2²
  * distance, ties to the lowest cell — bit-identical to the former
  * array_min-over-structs formulation and to the SQL oracle's
  * `row_number() OVER (ORDER BY dist, cell)`. One imperative pass per row;
  * centroids ride the broadcast side (see CentroidMatrixKernel). Null on
  * a null/absent vector element; centroids of mismatched dimension are
  * skipped (null when none match). */
case class IvfAssignExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen with CentroidMatrixKernel {
  import ExactDecimal._
  override protected def resultJava: String = "java.lang.Integer"
  override protected def resultNullable: Boolean = true
  override protected def unbox(boxed: String): String = s"$boxed.intValue()"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = checkVectorAndMatrix("ivf_assign")

  override def nullSafeEval(v: Any, m: Any): Any = {
    val x = toDoubles(v.asInstanceOf[ArrayData], isFloat)
    if (x == null) return null
    val (cents, cn2) = centroidsOf(m.asInstanceOf[ArrayData])
    val n2x = dotConst(x, x)
    var bestCell = -1
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      if (cents(j).length == x.length) {
        val d = l2sq(x, n2x, cents(j), cn2(j))
        if (bestCell < 0 || d < bestD) { bestD = d; bestCell = j }
      }
      j += 1
    }
    if (bestCell < 0) null else java.lang.Integer.valueOf(bestCell)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfAssignExpr =
    copy(left = l, right = r)
}

/** IVF probe selection: the `nprobe` nearest cells to the query vector,
  * by (exact-decimal L2², cell) ascending — the distributed replacement
  * for driver-side probe computation. Returns array<int> in probe-rank
  * order (callers explode it; order is informational). */
case class IvfProbesExpr(left: Expression, right: Expression, nprobe: Int)
    extends BinaryExpression with BinaryKernelCodegen with CentroidMatrixKernel {
  import ExactDecimal._
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  override protected def resultJava: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"
  override protected def resultNullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = checkVectorAndMatrix("ivf_probes")

  override def nullSafeEval(v: Any, m: Any): Any = {
    val x = toDoubles(v.asInstanceOf[ArrayData], isFloat)
    if (x == null) return null
    val (cents, cn2) = centroidsOf(m.asInstanceOf[ArrayData])
    val n2x = dotConst(x, x)
    val order = new java.util.ArrayList[(Double, Int)](cents.length)
    var j = 0
    while (j < cents.length) {
      if (cents(j).length == x.length)
        order.add((l2sq(x, n2x, cents(j), cn2(j)), j))
      j += 1
    }
    // (dist, cell) ascending — Double.compare == SQL ORDER BY here (no
    // NaN; a−b of equal doubles is +0.0, so no ±0.0 ambiguity either)
    order.sort { (a: (Double, Int), b: (Double, Int)) =>
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Integer.compare(a._2, b._2)
    }
    val take = math.min(nprobe, order.size())
    val cells = new Array[Int](take)
    var r = 0
    while (r < take) { cells(r) = order.get(r)._2; r += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfProbesExpr =
    copy(left = l, right = r)
}

/** L2-normalize a vector: each element divided by the exact-decimal
  * norm (sqrt of the 12-dp-exact self-dot — the same norm every other
  * kernel computes, so normalize→cosine is consistent). Zero-norm
  * vectors pass through as doubles unchanged. A native kernel rather
  * than a transform() lambda: the lambda body would re-inline the whole
  * norm subtree per element (the round-1 project-collapse trap), turning
  * O(dim) into O(dim²) decimal work. Null element → null result. */
case class L2NormalizeExpr(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {
  import ExactDecimal._
  override protected def resultJava: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"
  override protected def resultNullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    checkArrayNumeric(child.dataType, "l2_normalize")
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val x = toDoubles(v.asInstanceOf[ArrayData], isFloat)
    if (x == null) return null
    val n = java.lang.Math.sqrt(dotConst(x, x))
    if (n > 0) {
      var i = 0
      while (i < x.length) { x(i) = x(i) / n; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(x)
  }
  override protected def withNewChildInternal(c: Expression): L2NormalizeExpr =
    copy(child = c)
}

/** might_contain over a COLUMN-carried Bloom sketch. Spark's builtin
  * BloomFilterMightContain only accepts a foldable/scalar-subquery bloom
  * argument; this kernel instead reads the serialized sketch from a
  * 1-row broadcast relation (same contract as CentroidMatrixKernel: the
  * binary child must be row-constant) and deserializes it ONCE per
  * expression instance. Output: true iff the long hash might be in the
  * set — no false negatives by Bloom construction. */
case class BloomMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {
  override protected def resultJava: String = "java.lang.Boolean"
  override protected def unbox(boxed: String): String = s"$boxed.booleanValue()"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects (binary, long), got $t")
    }
  @transient @volatile
  private var bf: org.apache.spark.util.sketch.BloomFilter = _

  override def nullSafeEval(b: Any, h: Any): Any = {
    var f = bf
    if (f == null) {
      f = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b.asInstanceOf[Array[Byte]]))
      bf = f
    }
    java.lang.Boolean.valueOf(f.mightContainLong(h.asInstanceOf[Long]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContainExpr =
    copy(left = l, right = r)
}

/** Compact literal form of an IVF centroid matrix, so SQL-only
  * consumers can carry a trained index into `ivf_assign(vec, model)` /
  * `ivf_probes(vec, model, nprobe)` as ONE string literal — the
  * nb_classify model-literal discipline applied to the ANN stack (a SQL
  * surface cannot pass a broadcast relation column; a parsed literal
  * satisfies the row-constant contract by construction — the Scala API
  * keeps the 1-row broadcast relation, which stays the right form for
  * plan-compare-heavy pipelines). `Double.toString` round-trips
  * bit-exactly through `toDouble`, so the parsed matrix IS the built
  * one (spec-gated; q229 gates the whole SQL search against q48's
  * oracle). Format: `dim=<d>|v1,v2,...|v1,v2,...` — one `|`-separated
  * segment per centroid. */
object IvfModel {
  def serialize(centroids: Array[Array[Double]]): String = {
    require(centroids.nonEmpty, "need at least one centroid")
    val dim = centroids.head.length
    centroids.foreach(c => require(c.length == dim,
      s"ragged centroid matrix: ${c.length} != $dim"))
    (s"dim=$dim" +: centroids.toSeq.map(_.mkString(","))).mkString("|")
  }

  def parse(s: String): Array[Array[Double]] = {
    val segs = s.split('|')
    require(segs.length >= 2 && segs.head.startsWith("dim="),
      "ivf model must be dim=<d>|v1,v2,...|...")
    val dim = segs.head.stripPrefix("dim=").toInt
    val m = segs.tail.map(_.split(',').map(_.toDouble))
    m.foreach(c => require(c.length == dim,
      s"centroid dim ${c.length} != declared $dim"))
    m
  }

  /** The parsed matrix as a Catalyst literal (array<array<double>>). */
  def literal(s: String): Expression =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      parse(s).map(_.toSeq).toSeq,
      ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false))
}

object VectorFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge
  def dotExact(a: Column, b: Column): Column =
    ColumnBridge.column(DotExactExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def lshSig(vec: Column, bits: Int, dim: Int): Column =
    ColumnBridge.column(LshSigExpr(ColumnBridge.expression(vec), bits, dim))
  def ivfAssign(vec: Column, cmat: Column): Column =
    ColumnBridge.column(IvfAssignExpr(ColumnBridge.expression(vec), ColumnBridge.expression(cmat)))
  def ivfProbes(vec: Column, cmat: Column, nprobe: Int): Column =
    ColumnBridge.column(IvfProbesExpr(ColumnBridge.expression(vec), ColumnBridge.expression(cmat), nprobe))
  def l2Normalize(vec: Column): Column =
    ColumnBridge.column(L2NormalizeExpr(ColumnBridge.expression(vec)))
  /** Bloom sketch build over a long-hash column (Catalyst
    * BloomFilterAggregate — not in the public function registry). */
  def bloomAgg(hash: Column, expectedItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(hash),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
  def bloomMightContain(bloom: Column, hash: Column): Column =
    ColumnBridge.column(BloomMightContainExpr(
      ColumnBridge.expression(bloom), ColumnBridge.expression(hash)))
}
