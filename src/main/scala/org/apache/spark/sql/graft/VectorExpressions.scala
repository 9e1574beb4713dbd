/** Lives inside the `org.apache.spark.sql` package scope because the pieces
  * a native expression needs — `AbstractDataType` for `ExpectsInputTypes`
  * and the Column ↔ Expression bridge (`classic.ExpressionUtils`) — are
  * `private[sql]` in Spark 4. This is the established pattern for
  * out-of-tree Catalyst extensions; the public API is
  * `graft.functions.GraftFunctions`.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the vector hot path: dot product over
  * `array<double>`. A tight loop over `ArrayData` ([[VectorKernels.dot]],
  * called from whole-stage codegen) — no per-element Catalyst HOF
  * dispatch, no boxing. Replacing the equivalent `aggregate(zip_with(...))`
  * higher-order expression cut brute-force all-pairs cosine from ~168 s to
  * seconds at sf0.1 (2 M pairs × 64 dims). Accumulation order is pinned in
  * the kernel: the oracle hash-compare relies on it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"org.apache.spark.sql.graft.VectorKernels.dot($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Popcount of the intersection of two bitsets stored as `array<bigint>`
  * word vectors: Σ bit_count(a[w] & b[w]) ([[VectorKernels.bitsetCommon]])
  * — the per-pair
  * kernel of bitset-encoded exact set intersection (Dedup.exactJaccard's
  * small-dictionary path). */
case class BitsetIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_bitset_common"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.bitsetCommon(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"org.apache.spark.sql.graft.VectorKernels.bitsetCommon($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two ASCENDING-sorted `array<bigint>` sets via a
  * linear merge ([[VectorKernels.sortedCommon]]): O(|a|+|b|), no allocation. Verification kernel
  * for set-similarity candidates (Dedup.exactJaccard) where the sets are
  * 64-bit shingle hashes. Inputs MUST be duplicate-free and sorted. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "graft_sorted_common"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedCommon(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"org.apache.spark.sql.graft.VectorKernels.sortedCommon($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one JVM implementation of every vector expression in this file —
  * static methods, so the interpreted `nullSafeEval` and the codegen
  * template call the same compiled loop (the NearestCentroid/SketchKernels
  * pattern). PQ: `cb(j)(c)` is centroid `c` of contiguous subspace `j`;
  * subspace widths come from the centroids themselves, so a dimension that
  * doesn't divide evenly just gives the last subspace the remainder. */
object VectorKernels {

  /** Σ x(i)·y(i) over the shorter operand's length. Accumulation is
    * sequential in index order — bit-identical to the naive loop (and to
    * DuckDB's `list_cosine_similarity` numerator), which the oracle
    * hash-compare relies on; do not reassociate or unroll it. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Σ bit_count(x(w) & y(w)) over the shorter operand's word count. */
  def bitsetCommon(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    s
  }

  /** |x ∩ y| of two ascending, duplicate-free sets by linear merge. */
  def sortedCommon(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var s = 0L
    while (i < nx && j < ny) {
      val u = x.getLong(i)
      val v = y.getLong(j)
      if (u == v) { s += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    s
  }

  /** Σ_j lut(j·ksub + codes(j)), ksub = |lut| / |codes|. */
  def pqScore(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    val ksub = lut.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) { s += lut.getDouble(j * ksub + codes.getInt(j)); j += 1 }
    s
  }

  /** PQ encode: per subspace, the index of the L2-nearest centroid of the
    * corresponding contiguous subvector. */
  def pqEncode(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val codes = new Array[Int](m)
    var off = 0
    var j = 0
    while (j < m) {
      val cents = cb(j)
      val d = cents(0).length
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0
        var i = 0
        while (i < d) {
          val diff = v.getDouble(off + i) - cent(i)
          s += diff * diff
          i += 1
        }
        if (s < bestDist) { bestDist = s; best = c }
        c += 1
      }
      codes(j) = best
      off += d
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** Asymmetric-distance lookup table for a query vector, flattened to
    * m·ksub doubles: lut(j·ksub + c) = q_subvector_j · cb(j)(c). The PQ
    * approximation of q·x is then a sum of m table lookups. */
  def pqLut(q: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val ksub = cb(0).length
    val lut = new Array[Double](m * ksub)
    var off = 0
    var j = 0
    while (j < m) {
      val cents = cb(j)
      val d = cents(0).length
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0
        var i = 0
        while (i < d) { s += q.getDouble(off + i) * cent(i); i += 1 }
        lut(j * ksub + c) = s
        c += 1
      }
      off += d
      j += 1
    }
    new GenericArrayData(lut)
  }
}

/** PQ code word per subspace for an `array<double>` vector, against
  * codebooks baked into the plan (trained driver-side on a bounded
  * sample, like NearestCentroid's matrix). Output `array<int>` of length
  * m — the 100 TB story: the corpus scan that scores candidates reads
  * these m small ints (+ one stored norm) instead of the full vector. */
case class PqEncode(child: Expression, cb: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(cb.nonEmpty && cb.forall(_.nonEmpty),
    "PQ codebooks must be non-empty")

  @transient private lazy val matrix: Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqEncode(v.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCodebooks", matrix, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.VectorKernels.pqEncode($c, $m)")
  }

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** Flattened asymmetric-distance lookup table (m·ksub doubles) for a query
  * `array<double>` vector against the baked codebooks. Computed once per
  * QUERY row; corpus rows only do table lookups (PqScore). */
case class PqLut(child: Expression, cb: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(cb.nonEmpty && cb.forall(_.nonEmpty),
    "PQ codebooks must be non-empty")
  // The flat LUT uses a uniform ksub stride and PqScore recovers ksub as
  // lut.length/m — ragged codebooks would index past segment boundaries.
  require(cb.forall(_.length == cb.head.length),
    s"PQ codebooks must have uniform ksub per subspace " +
      s"(got ${cb.map(_.length).mkString(",")}); pad before building the LUT")

  @transient private lazy val matrix: Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqLut(v.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCodebooks", matrix, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.VectorKernels.pqLut($c, $m)")
  }

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** PQ asymmetric score: Σ_j lut(j·ksub + codes(j)) ≈ q·x, the per-pair hot
  * loop of the compressed-corpus scan — m lookups per pair
  * ([[VectorKernels.pqScore]]; no subvector arithmetic at scan time). ksub is recovered from
  * the operand shapes, so one expression serves any codebook geometry. */
case class PqScore(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_score"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.pqScore(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (codes, lut) =>
      s"org.apache.spark.sql.graft.VectorKernels.pqScore($codes, $lut)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column ↔ Expression bridge for code outside the sql package. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (possibly hand-transformed) logical plan; the
    * plan is re-analyzed, so rules like DeduplicateRelations repair any
    * duplicated relation subtrees a transform introduced. `Dataset.ofRows`
    * is private[sql] — this is the sanctioned doorway for graft code. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQL conf (`sessionState` is not on the API session). */
  def conf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The value beneath a sort Column (`col.desc` → `col`); identity for
    * plain value Columns. Spark 4 models sort order at the ColumnNode
    * level, so this unwrap must happen here, inside the sql package. */
  def sortChild(c: Column): Column = c.node match {
    case s: org.apache.spark.sql.internal.SortOrder => Column(s.child)
    case _ => c
  }
}
