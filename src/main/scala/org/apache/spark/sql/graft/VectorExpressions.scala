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

  /** [[dot]] over JVM arrays, for [[graft.operators.PairGrid]]'s decoded
    * payloads: the same sequential loop, so both give the same bits. It is
    * kept beside the `ArrayData` loop because that one reads through
    * `Unsafe`, and on decoded vectors (an `UnsafeArrayData` view per item)
    * it measured about 2.5× slower per pair (BENCH_NOTES "One pair grid
    * for the exact all-pairs operators"). */
  def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
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

  /** [[sortedCommon]] over JVM arrays, for the pair grid (see the
    * array [[dot]] for why it is kept beside the `ArrayData` loop). */
  def sortedCommon(x: Array[Long], y: Array[Long]): Long = {
    var i = 0
    var j = 0
    var s = 0L
    while (i < x.length && j < y.length) {
      val u = x(i)
      val v = y(j)
      if (u == v) { s += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
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
