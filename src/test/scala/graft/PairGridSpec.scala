package graft

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.VectorKernels
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PairGrid

/** The block-count rule the per-list cosine grid and hammingPairs' hot
  * buckets share ([[PairGrid.blocksPerGroup]]), and the grid's JVM-array
  * pair kernels against the `ArrayData` loops the SQL functions run,
  * pinned without a Spark session. */
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

  test("array kernels give the ArrayData kernels' bits") {
    def u(a: Array[Double]) = UnsafeArrayData.fromPrimitiveArray(a)
    def ul(a: Array[Long]) = UnsafeArrayData.fromPrimitiveArray(a)
    val vecs = Seq(Array.empty[Double], Array(1.0), Array(1e308, 1e308, -1e308),
      Array(0.1, 0.2, 0.3, 1e16, -1e16), Array(Double.NaN, 1.0),
      Array(-0.0, 2.5, 3.0), Array.tabulate(64)(i => math.sin(i.toDouble)))
    for (a <- vecs; b <- vecs) assert(java.lang.Double.doubleToRawLongBits(
      VectorKernels.dot(a, b)) == java.lang.Double.doubleToRawLongBits(
      VectorKernels.dot(u(a), u(b))), s"${a.toSeq} · ${b.toSeq}")
    val sets = Seq(Array.empty[Long], Array(Long.MinValue, 0L, Long.MaxValue),
      Array(1L, 3L, 5L, 7L), Array(2L, 3L, 4L, 7L, 9L), Array(Long.MaxValue))
    for (a <- sets; b <- sets)
      assert(VectorKernels.sortedCommon(a, b) ==
        VectorKernels.sortedCommon(ul(a), ul(b)), s"${a.toSeq} ∩ ${b.toSeq}")
  }
}
