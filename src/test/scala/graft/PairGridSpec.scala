package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.VectorKernels
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PairGrid

/** The block-count rule the per-list cosine grid and hammingPairs' hot
  * buckets share ([[PairGrid.blocksPerGroup]]), and the shared vector
  * kernels' entry points against plain reference loops over every kind of
  * operand they read, pinned without a Spark session. */
class PairGridSpec extends AnyFunSuite {

  private def blocks(sizes: Seq[Long], rowsPerBlock: Long, par: Int): Seq[Int] = {
    val b = PairGrid.blocksPerGroup(sizes.indices.map(_.toLong).zip(sizes),
      rowsPerBlock, par)
    sizes.indices.map(g => b(g.toLong))
  }

  test("one group (nlist = 1) splits into ⌊√(8·par)⌋ blocks") {
    assert(blocks(Seq(10000L), 4096, 4) == Seq(5)) // √32 ≈ 5.66
    assert(blocks(Seq(10000L), 4096, 12) == Seq(9)) // √96 ≈ 9.80
  }

  test("many small groups stay at one block each") {
    assert(blocks(Seq.fill(1000)(10L), 4096, 4).forall(_ == 1))
  }

  test("the row bound wins for a big group on few cores") {
    // ⌈100000/4096⌉ = 25 against ⌊√8⌋ = 2.
    assert(blocks(Seq(100000L), 4096, 1) == Seq(25))
  }

  test("L equal groups with 2·par < L < 8·par get one block each") {
    // Each group reads √(8·par/L) = √(32/20) ≈ 1.26: floor keeps 1, where
    // ceil would split every group in two.
    assert(blocks(Seq.fill(20)(1000L), 4096, 4).forall(_ == 1))
    assert(blocks(Seq.fill(9)(1000L), 4096, 4).forall(_ == 1)) // √(32/9) ≈ 1.89
  }

  test("an empty input has no groups") {
    assert(PairGrid.blocksPerGroup(Nil, 4096, 4).isEmpty)
  }

  // Operands of the shared kernels: a JVM array, an UnsafeArrayData of its
  // own, one read out of an UnsafeRow (so its offset is nonzero), and a
  // GenericArrayData whose +0.0 / 0 elements are nulls (which ArrayData
  // reads as zero). Each kind carries the same values as the array.

  private def unsafeInRow(elem: DataType, a: ArrayData): ArrayData = {
    val row = UnsafeProjection.create(Array[DataType](LongType, ArrayType(elem)))
      .apply(InternalRow(7L, a)).copy()
    val u = row.getArray(1)
    assert(u.getBaseOffset > Platform.BYTE_ARRAY_OFFSET + 16)
    u
  }

  private def doubleKinds(a: Array[Double]): Seq[ArrayData] = Seq(
    UnsafeArrayData.fromPrimitiveArray(a),
    unsafeInRow(DoubleType, new GenericArrayData(a)),
    new GenericArrayData(a.map(x =>
      if (java.lang.Double.doubleToRawLongBits(x) == 0L) null else x: Any)))

  private def longKinds(a: Array[Long]): Seq[ArrayData] = Seq(
    UnsafeArrayData.fromPrimitiveArray(a),
    unsafeInRow(LongType, new GenericArrayData(a)),
    new GenericArrayData(a.map(x => if (x == 0L) null else x: Any)))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("array kernels give the ArrayData kernels' bits") {
    def refDot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0
      for (i <- 0 until math.min(x.length, y.length)) s += x(i) * y(i)
      s
    }
    def refNearestL2(v: Array[Double], m: Array[Array[Double]]): Int = {
      var (best, bestDist) = (0, Double.MaxValue)
      for (c <- m.indices) {
        var s = 0.0
        for (i <- 0 until math.min(v.length, m(c).length)) {
          val t = v(i) - m(c)(i); s += t * t
        }
        if (s < bestDist) { best = c; bestDist = s }
      }
      best
    }
    def refNearest(v: Array[Double], m: Array[Array[Double]]): Int = {
      var (best, bestDot) = (0, Double.NegativeInfinity)
      for (i <- m.indices) {
        val d = refDot(v, m(i))
        if (d > bestDot) { best = i; bestDot = d }
      }
      best
    }
    val vecs = Seq(Array.empty[Double], Array(1.0), Array(1e308, 1e308, -1e308),
      Array(0.1, 0.2, 0.3, 1e16, -1e16), Array(Double.NaN, 1.0),
      Array(-0.0, 2.5, 3.0), Array(0.0, 0.0, 1.0, 0.0),
      Array.tabulate(64)(i => math.sin(i.toDouble)))
    for (a <- vecs; b <- vecs) {
      val want = bits(refDot(a, b))
      val ctx = s"${a.toSeq} · ${b.toSeq}"
      assert(bits(VectorKernels.dot(a, b)) == want, ctx)
      for (x <- doubleKinds(a); y <- doubleKinds(b))
        assert(bits(VectorKernels.dot(x, y)) == want, s"$ctx on $x, $y")
    }
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(1.0, 0.0, 0.0), Array(0.0, 0.0, -1.0))
    for (v <- vecs) {
      assert(VectorKernels.nearestL2(v, vecs.toArray) == refNearestL2(v, vecs.toArray),
        s"L2 ${v.toSeq}")
      val want = refNearest(v, cents)
      assert(VectorKernels.nearestCentroid(v, cents) == want, v.toSeq)
      for (x <- doubleKinds(v))
        assert(VectorKernels.nearestCentroid(x, cents) == want, s"${v.toSeq} on $x")
    }
    val sets = Seq(Array.empty[Long], Array(Long.MinValue, 0L, Long.MaxValue),
      Array(1L, 3L, 5L, 7L), Array(2L, 3L, 4L, 7L, 9L), Array(Long.MaxValue),
      Array(-4L, 0L, 3L, 9L))
    for (a <- sets; b <- sets) {
      val want = a.toSet.intersect(b.toSet).size.toLong
      val ctx = s"${a.toSeq} ∩ ${b.toSeq}"
      assert(VectorKernels.sortedCommon(a, b) == want, ctx)
      for (x <- longKinds(a); y <- longKinds(b))
        assert(VectorKernels.sortedCommon(x, y) == want, s"$ctx on $x, $y")
    }
  }
}
