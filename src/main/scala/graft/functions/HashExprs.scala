package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Native Catalyst expressions for the text-dedup hot path (SURVEY §2.4).
  *
  * The same operators are expressible with higher-order functions
  * (`transform`/`aggregate` folds — see git history), but HOF lambdas
  * evaluate one Catalyst expression tree per element per hash and do not
  * fuse into whole-stage codegen loops; at 64 hashes × ~200 shingles ×
  * millions of docs that is the dominant cost. These expressions run the
  * inner loops imperatively on the unsafe array data (seed-compatible
  * with Spark's own xxhash64: XXH64, seed 42).
  */

/** Hash of one UTF8String token, identical to Spark's xxhash64(col). */
private object TokenHash {
  val Seed = 42L
  def hash(s: org.apache.spark.unsafe.types.UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  // Cross-engine-reproducible token hash: the first 8 bytes of md5(token)
  // read big-endian — equal to DuckDB's ('0x'||substr(md5(t),1,16))::UBIGINT
  // bit pattern, which is what makes simhash signatures oracle-verifiable.
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def md5Low64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = mdTl.get(); md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** Gram keys of the word n-grams of `arr` (n <= its m tokens), in
    * order, in the first m - n + 1 slots of the returned length-m array.
    * Default: each gram chains its tokens' xxhash64 hashes
    * (order-sensitive, no string concatenation); the keys overwrite the
    * per-token hashes in place, since gram i reads only tokens i..i+n-1,
    * so the fast path allocates one array per row. `md5Gram`: md5-low64
    * of the literal space-joined gram string, a null token contributing
    * an empty one — cross-engine reproducible (DuckDB:
    * ('0x'||substr(md5(gram),1,16))::UBIGINT). */
  def gramKeys(arr: ArrayData, n: Int, md5Gram: Boolean): Array[Long] = {
    val m = arr.numElements()
    val keys = new Array[Long](m)
    var i = 0
    if (md5Gram) {
      val sb = new java.lang.StringBuilder()
      while (i <= m - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          if (!arr.isNullAt(i + j)) sb.append(arr.getUTF8String(i + j).toString)
          j += 1
        }
        keys(i) = md5Low64(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
        i += 1
      }
    } else {
      while (i < m) {
        keys(i) = if (arr.isNullAt(i)) 0L else hash(arr.getUTF8String(i), Seed)
        i += 1
      }
      i = 0
      while (i <= m - n) {
        var acc = Seed
        var j = 0
        while (j < n) { acc = XXH64.hashLong(keys(i + j), acc); j += 1 }
        keys(i) = acc
        i += 1
      }
    }
    keys
  }
}

/** 64-bit SimHash of a token array: per-bit majority vote of token
  * hashes. NULL tokens are skipped; empty array → 0L. `md5Based` selects
  * the cross-engine md5 token hash (oracle-verifiable) over the faster
  * default xxhash64. */
case class SimHash64Expr(child: Expression, md5Based: Boolean = false)
    extends UnaryExpression with UnaryKernelCodegen {
  override protected def resultJava: String = "java.lang.Long"
  override protected def unbox(boxed: String): String = s"$boxed.longValue()"
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got $t")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val counters = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h =
          if (md5Based) TokenHash.md5Low64(arr.getUTF8String(i))
          else TokenHash.hash(arr.getUTF8String(i), TokenHash.Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(c)
}

/** MinHash signature (k mins over reseeded hashes) of an array<long> of
  * shingle hashes. Empty array → array of Long.MaxValue. */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with UnaryKernelCodegen {
  override protected def resultJava: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<long>, got $t")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val hj = XXH64.hashLong(h, j.toLong)
          if (hj < sig(j)) sig(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** Distinct, SORTED hashes of word n-gram shingles of a token array.
  * Default (fast, production) path: each gram's hash chains its tokens'
  * xxhash64 hashes (order-sensitive), with no intermediate string
  * concatenation. `md5Gram = true` instead hashes the literal
  * space-joined gram string with md5-low64 — allocation-heavier, but the
  * gram keys become cross-engine reproducible (DuckDB:
  * ('0x'||substr(md5(gram),1,16))::UBIGINT), the same md5/xxhash64 trade
  * the span family's `gramHash` option makes (graft.dedup.Dedup).
  * Sorted output lets set ops run as merge scans
  * (SortedIntersectSizeExpr). Fewer than n tokens → empty. */
case class ShingleHashExpr(child: Expression, n: Int, md5Gram: Boolean = false)
    extends UnaryExpression with UnaryKernelCodegen {
  require(n >= 1)
  override protected def resultJava: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got $t")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val gh = TokenHash.gramKeys(arr, n, md5Gram)
    val seen = new mutable.HashSet[Long]
    val out = new mutable.ArrayBuffer[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      if (seen.add(gh(i))) out += gh(i)
      i += 1
    }
    val res = out.toArray
    java.util.Arrays.sort(res)
    new GenericArrayData(res)
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashExpr =
    copy(child = c)
}

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03) of a
  * token array: hash every word n-gram (md5-low64 by default —
  * cross-engine reproducible), slide a window of `w` consecutive gram
  * hashes, keep the minimum of each window (UNSIGNED comparison, matching
  * engines whose 64-bit min is unsigned), return the DISTINCT selected
  * values sorted. Guarantees: any shared token run of length >= n + w - 1
  * contributes at least one shared fingerprint — the local-algorithm
  * property that makes winnowed sets comparable across documents; it
  * holds for ANY gram hash, so `md5Gram = false` swaps in the chained
  * xxhash64 gram hash (ShingleHashExpr's fast path: per-token hashes
  * once, no per-gram string allocation) for production corpora where
  * cross-engine replay of the fingerprints isn't needed. The selected
  * POSITIONS differ between the two hashes (different grams win the
  * window minima), but both are valid winnowing sketches with the same
  * density (~2/(w+1)) and guarantee. Fewer than n tokens → empty.
  */
case class WinnowExpr(child: Expression, n: Int, w: Int, md5Gram: Boolean = true)
    extends UnaryExpression with UnaryKernelCodegen {
  require(n >= 1 && w >= 1)
  override protected def resultJava: String =
    "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects array<string>, got $t")
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val nGrams = m - n + 1
    val gh = TokenHash.gramKeys(arr, n, md5Gram)
    val seen = new mutable.HashSet[Long]
    val out = new mutable.ArrayBuffer[Long]()
    val nWin = math.max(1, nGrams - w + 1)
    var s = 0
    while (s < nWin) {
      var best = gh(s)
      var k = s + 1
      val end = math.min(s + w, nGrams)
      while (k < end) {
        if (java.lang.Long.compareUnsigned(gh(k), best) < 0) best = gh(k)
        k += 1
      }
      if (seen.add(best)) out += best
      s += 1
    }
    val res = out.toArray
    java.util.Arrays.sort(res)
    new GenericArrayData(res)
  }
  override protected def withNewChildInternal(c: Expression): WinnowExpr =
    copy(child = c)
}

/** Intersection size of two SORTED long arrays via a single merge scan —
  * O(|a|+|b|) with no per-row hash set (Spark's array_intersect builds
  * one per row, the dominant cost in near-dup verification). */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with BinaryKernelCodegen {
  override protected def resultJava: String = "java.lang.Long"
  override protected def unbox(boxed: String): String = s"$boxed.longValue()"
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size expects (array<long>, array<long>), got $t")
    }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSizeExpr =
    copy(left = newLeft, right = newRight)
}

/** Column-API wrappers (classic Column ⇄ Expression bridge). */
object HashFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge
  private def wrap(e: Expression): Column = ColumnBridge.column(e)
  private def exprOf(c: Column): Expression = ColumnBridge.expression(c)

  def simhash64(tokens: Column, md5Based: Boolean = false): Column =
    wrap(SimHash64Expr(exprOf(tokens), md5Based))
  def minhashSig(shingleHashes: Column, k: Int): Column =
    wrap(MinHashSigExpr(exprOf(shingleHashes), k))
  def shingleHashes(tokens: Column, n: Int, md5Gram: Boolean = false): Column =
    wrap(ShingleHashExpr(exprOf(tokens), n, md5Gram))
  def winnowFingerprints(tokens: Column, n: Int, w: Int,
                         md5Gram: Boolean = true): Column =
    wrap(WinnowExpr(exprOf(tokens), n, w, md5Gram))
  def sortedIntersectSize(a: Column, b: Column): Column =
    wrap(SortedIntersectSizeExpr(exprOf(a), exprOf(b)))
}
