/** Lives inside the `org.apache.spark.sql` package scope because the pieces
  * a native expression needs — `AbstractDataType` for `ExpectsInputTypes`
  * and the Column ↔ Expression bridge (`classic.ExpressionUtils`) — are
  * `private[sql]` in Spark 4. This is the established pattern for
  * out-of-tree Catalyst extensions; the public API is
  * `graft.functions.GraftFunctions`.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform

/** Native Catalyst expression for the vector hot path: dot product over
  * `array<double>`. One tight loop over the arrays' memory
  * ([[VectorKernels.dot]], called from whole-stage codegen) — no
  * per-element Catalyst HOF dispatch, no boxing. Replacing the equivalent
  * `aggregate(zip_with(...))` higher-order expression cut brute-force
  * all-pairs cosine from ~168 s to seconds at sf0.1 (2 M pairs × 64 dims). Accumulation order is pinned in
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

/** The one JVM implementation of every vector kernel: these expressions,
  * centroid assignment ([[NearestCentroid]], [[NearestCentroids]]), the
  * quantizer trainers and the pair-grid scores all call these static
  * methods, so interpreted eval, generated code and the driver run the
  * same compiled loops.
  *
  * One loop per kernel: the dot product, the sorted merge and the squared
  * distance each have one private loop that reads raw memory,
  * `Platform.getDouble/getLong(base, offset + 8L * i)`. So one body reads
  * a JVM array and an `UnsafeArrayData` (its base object, past its header)
  * in place; any other `ArrayData` (a literal, a `CodegenFallback`
  * result) is copied out with `toDoubleArray`/`toLongArray` first. The raw
  * loops check no bounds, so only operand-typed entry points are public
  * and each takes its lengths from its own operands: the shorter for a dot
  * or a distance, each operand's own count for the merge; the PQ kernels
  * check the vector against the codebooks' width first.
  *
  * Accumulation is sequential in index order, bit-identical to the naive
  * loop (and to DuckDB's `list_cosine_similarity` numerator), which the
  * oracle hash-compare relies on: do not reassociate, unroll or vectorize.
  *
  * PQ: `cb(j)(c)` is centroid `c` of contiguous subspace `j`; subspace
  * widths come from the centroids themselves, so a dimension that doesn't
  * divide evenly just gives the last subspace the remainder. */
object VectorKernels {

  private final val D = Platform.DOUBLE_ARRAY_OFFSET
  private final val L = Platform.LONG_ARRAY_OFFSET

  /** Σ x(i)·y(i) over the shorter operand's length. */
  def dot(x: Array[Double], y: Array[Double]): Double =
    dotRaw(x, D, y, D, math.min(x.length, y.length))

  def dot(x: ArrayData, y: ArrayData): Double =
    dotRaw(doubles(x), start(x, D), doubles(y), start(y, D),
      math.min(x.numElements(), y.numElements()))

  /** |x ∩ y| of two ascending, duplicate-free sets by linear merge. */
  def sortedCommon(x: Array[Long], y: Array[Long]): Long =
    mergeRaw(x, L, x.length, y, L, y.length)

  def sortedCommon(x: ArrayData, y: ArrayData): Long =
    mergeRaw(longs(x), start(x, L), x.numElements(),
      longs(y), start(y, L), y.numElements())

  /** argmax over centroid dot products; ties break to the lowest index, and
    * a row whose every dot is NaN gets centroid 0. A vector shorter than
    * the centroids scores only its prefix. */
  def nearestCentroid(v: Array[Double], m: Array[Array[Double]]): Int =
    argmaxDot(v, D, v.length, m)

  def nearestCentroid(v: ArrayData, m: Array[Array[Double]]): Int =
    argmaxDot(doubles(v), start(v, D), v.numElements(), m)

  /** argmin over squared L2 distances to `m`'s centroids (ties to the lowest
    * index): the PQ trainer's assignment, the one [[pqEncode]] makes per
    * subspace. */
  def nearestL2(v: Array[Double], m: Array[Array[Double]]): Int =
    argminL2(v, D, v.length, m)

  /** Top-`k` centroid indices by dot product, descending (ties to the
    * lowest index — consistent with [[nearestCentroid]]): the IVF
    * MULTI-assignment kernel. One fused nlist × dim loop + an O(nlist · k)
    * selection per row, no per-row struct arrays or sorts — the difference
    * between a corpus-side assignment that scales and one that allocates
    * nlist structs per row. */
  def nearestCentroids(v: ArrayData, m: Array[Array[Double]],
      k: Int): ArrayData = {
    val vb = doubles(v)
    val vo = start(v, D)
    val dots = m.map(c => dotRaw(vb, vo, c, D, math.min(v.numElements(), c.length)))
    val kk = math.min(k, m.length)
    val out = new Array[Int](kk)
    val used = new Array[Boolean](m.length)
    var s = 0
    while (s < kk) {
      var best = -1
      var bd = Double.NegativeInfinity
      var j = 0
      while (j < m.length) {
        // `best < 0` keeps the first unused index even when every dot is
        // NaN (NaN > x is always false) — an all-NaN row degrades to
        // lowest-index assignment like nearestCentroid's best=0 init,
        // instead of crashing on used(-1).
        if (!used(j) && (best < 0 || dots(j) > bd)) { bd = dots(j); best = j }
        j += 1
      }
      used(best) = true
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
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

  /** Σ_j lut(j·ksub + codes(j)), ksub = |lut| / |codes|. Malformed input
    * — no codes, a LUT that does not split into |codes| equal subspaces,
    * or a code outside [0, ksub) — throws IllegalArgumentException naming
    * the shapes, instead of dividing by zero or reading another
    * subspace's entries. */
  def pqScore(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    val n = lut.numElements()
    if (m == 0 || n % m != 0) throw new IllegalArgumentException(
      s"pqScore: a LUT of $n entries does not split into $m subspaces")
    val ksub = n / m
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= ksub) throw new IllegalArgumentException(
        s"pqScore: code $c of subspace $j is outside [0, $ksub) " +
          s"(m = $m, |lut| = $n)")
      s += lut.getDouble(j * ksub + c)
      j += 1
    }
    s
  }

  /** PQ encode: per subspace, the index of the L2-nearest centroid of the
    * corresponding contiguous subvector ([[nearestL2]]). */
  def pqEncode(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    checkPqWidth("pqEncode", v, cb)
    val vb = doubles(v)
    val vo = start(v, D)
    var off = 0L
    new GenericArrayData(cb.map { cents =>
      val code = argminL2(vb, vo + 8L * off, cents(0).length, cents)
      off += cents(0).length
      code
    })
  }

  /** Asymmetric-distance lookup table for a query vector, flattened to
    * m·ksub doubles: lut(j·ksub + c) = q_subvector_j · cb(j)(c). The PQ
    * approximation of q·x is then a sum of m table lookups. */
  def pqLut(q: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    checkPqWidth("pqLut", q, cb)
    val qb = doubles(q)
    val qo = start(q, D)
    var off = 0L
    new GenericArrayData(cb.flatMap { cents =>
      val d = cents(0).length
      val row = cents.map(c => dotRaw(qb, qo + 8L * off, c, D, math.min(d, c.length)))
      off += d
      row
    })
  }

  /** Subspace j spans its first centroid's width. A vector narrower than
    * the summed widths throws IllegalArgumentException naming both, before
    * any raw read; a wider one encodes its prefix. */
  private def checkPqWidth(kernel: String, v: ArrayData,
      cb: Array[Array[Array[Double]]]): Unit = {
    var width = 0
    for (cents <- cb) width += cents(0).length
    if (v.numElements() < width) throw new IllegalArgumentException(
      s"$kernel: a vector of ${v.numElements()} elements is narrower than " +
        s"the codebooks' width $width (m = ${cb.length})")
  }

  /** The shape [[pqEncode]] and [[pqLut]] need: at least one subspace,
    * each with at least one centroid, all of one width. */
  private[graft] def requireCodebooks(cb: Seq[Seq[Seq[Double]]]): Unit =
    require(cb.nonEmpty && cb.forall(s => s.nonEmpty && s.forall(_.length == s.head.length)),
      s"PQ codebooks must be non-empty with one width per subspace (got " +
        cb.map(_.map(_.length).distinct.mkString("|")).mkString("[", ",", "]") + ")")

  // Operands as raw memory: an UnsafeArrayData's own bytes, else a copy.

  private def doubles(a: ArrayData): AnyRef = a match {
    case u: UnsafeArrayData => u.getBaseObject
    case _ => a.toDoubleArray()
  }

  private def longs(a: ArrayData): AnyRef = a match {
    case u: UnsafeArrayData => u.getBaseObject
    case _ => a.toLongArray()
  }

  /** Offset of element 0 in what [[doubles]]/[[longs]] returned for `a`. */
  private def start(a: ArrayData, arrayOffset: Long): Long = a match {
    case u: UnsafeArrayData => u.getBaseOffset +
      UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements())
    case _ => arrayOffset
  }

  // The loops. Callers pass lengths their operands hold.

  private def dotRaw(xb: AnyRef, xo: Long, yb: AnyRef, yo: Long,
      n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      s += Platform.getDouble(xb, xo + 8L * i) * Platform.getDouble(yb, yo + 8L * i)
      i += 1
    }
    s
  }

  private def mergeRaw(xb: AnyRef, xo: Long, nx: Int, yb: AnyRef, yo: Long,
      ny: Int): Long = {
    var i = 0
    var j = 0
    var s = 0L
    while (i < nx && j < ny) {
      val u = Platform.getLong(xb, xo + 8L * i)
      val v = Platform.getLong(yb, yo + 8L * j)
      if (u == v) { s += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    s
  }

  private def argmaxDot(vb: AnyRef, vo: Long, n: Int,
      m: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var i = 0
    while (i < m.length) {
      val d = dotRaw(vb, vo, m(i), D, math.min(n, m(i).length))
      if (d > bestDot) { bestDot = d; best = i }
      i += 1
    }
    best
  }

  /** The squared-distance loop, inside its argmin. */
  private def argminL2(vb: AnyRef, vo: Long, n: Int,
      m: Array[Array[Double]]): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < m.length) {
      val cent = m(c)
      val len = math.min(n, cent.length)
      var s = 0.0
      var i = 0
      while (i < len) {
        val t = Platform.getDouble(vb, vo + 8L * i) - Platform.getDouble(cent, D + 8L * i)
        s += t * t
        i += 1
      }
      if (s < bestDist) { bestDist = s; best = c }
      c += 1
    }
    best
  }
}

/** PQ code word per subspace for an `array<double>` vector, against
  * codebooks baked into the plan (trained driver-side on a bounded
  * sample, like NearestCentroid's matrix). Output `array<int>` of length
  * m — the 100 TB story: the corpus scan that scores candidates reads
  * these m small ints (+ one stored norm) instead of the full vector. */
case class PqEncode(child: Expression, cb: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  VectorKernels.requireCodebooks(cb)

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
  VectorKernels.requireCodebooks(cb)
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
    * duplicated relation subtrees a transform introduced. A plan already
    * marked analyzed (an analyzed plan, or its `clone()`) is taken as is:
    * `Analyzer.executeAndCheck` returns it at once. `Dataset.ofRows` is
    * private[sql] — this is the sanctioned doorway for graft code. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** [[ofRows]] for a rewrite of an analyzed plan that is built from
    * resolved nodes only: the plan is checked (`checkAnalysis`) and taken as
    * analyzed, without a second run of the analyzer. A rewrite that puts one
    * subtree into the plan twice needs [[ofRows]]: only the analyzer's
    * `DeduplicateRelations` gives the copies distinct attributes. */
  def ofAnalyzed(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    classic(spark).sessionState.analyzer.checkAnalysis(plan)
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** A DataFrame of `plan`, a copy of the analyzed plan of `template`,
    * whose execution takes the template's optimized, physical and executed
    * plans instead of deriving its own. Analysis and the root that the
    * Dataset tags with its id are its own. All such DataFrames run the one
    * executed plan, so it must be safe to run more than once and from
    * several threads at once (`Engine.PlanCache` decides which are). */
  def reusing(template: org.apache.spark.sql.execution.QueryExecution,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    val qe = new ReusedExecution(template, plan)
    qe.sparkSession.withActive {
      qe.assertAnalyzed()
      new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](qe,
        () => org.apache.spark.sql.catalyst.encoders.RowEncoder
          .encoderFor(qe.analyzed.schema))
    }
  }

  private final class ReusedExecution(
      template: org.apache.spark.sql.execution.QueryExecution,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      extends org.apache.spark.sql.execution.QueryExecution(
        template.sparkSession, plan) {
    override def optimizedPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      template.optimizedPlan
    override def sparkPlan: org.apache.spark.sql.execution.SparkPlan =
      template.sparkPlan
    override def executedPlan: org.apache.spark.sql.execution.SparkPlan =
      template.executedPlan
  }

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A copy of an analyzed plan without the ids of the Datasets built on
    * it (`DATASET_ID_TAG`, which `Dataset` adds to its plan's root), so
    * copies handed to new Datasets start from an empty set. */
  def withoutDatasetIds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val copy = plan.clone()
    copy.unsetTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG)
    copy
  }

  /** The ids of the Datasets built on `plan` (its root's `DATASET_ID_TAG`). */
  def datasetIds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Set[Long] =
    plan.getTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG)
      .map(_.toSet).getOrElse(Set.empty)

  /** The session's registration of the temp view `name`, if there is one:
    * it lives until the view is replaced or dropped, and its `tableMeta` is
    * the `desc` of every `View` that resolution builds for it until then. */
  def tempView(spark: org.apache.spark.sql.SparkSession, name: String)
      : Option[org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation] =
    classic(spark).sessionState.catalog.getRawTempView(name)

  /** The session's SQL conf (`sessionState` is not on the API session). */
  def conf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    classic(spark).sessionState.conf

  /** The value beneath a sort Column (`col.desc` → `col`); identity for
    * plain value Columns. Spark 4 models sort order at the ColumnNode
    * level, so this unwrap must happen here, inside the sql package. */
  def sortChild(c: Column): Column = c.node match {
    case s: org.apache.spark.sql.internal.SortOrder => Column(s.child)
    case _ => c
  }
}
