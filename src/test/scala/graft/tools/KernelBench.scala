package graft.tools

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.VectorKernels
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Nanosecond-per-pair microbench of the shared vector kernels:
  * `VectorKernels.dot` and `VectorKernels.sortedCommon` at dims 64 and 384,
  * over each kind of operand they read — JVM arrays, an `UnsafeArrayData`
  * of its own, one read out of an `UnsafeRow` (the scanned-column case) and
  * a `GenericArrayData` with null elements (literals, interpreted paths).
  *
  *   sbt "Test/runMain graft.tools.KernelBench [pairs] [reps]"
  *
  * Each cell runs `pairs` (default 500000) pairs over a pool of 256
  * operands, `reps` (default 7) times after one warm-up round; all kinds
  * share the `ArrayData` call sites, as in Spark. Prints the median and
  * the minimum ns per pair. One thread, no Spark session.
  */
object KernelBench {

  private val Pool = 256

  private def inRow(elem: DataType, a: ArrayData): ArrayData =
    UnsafeProjection.create(Array[DataType](LongType, ArrayType(elem)))
      .apply(InternalRow(7L, a)).copy().getArray(1)

  /** Every 16th element null: the slot reads as zero. */
  private def withNulls(xs: Array[Any]): ArrayData =
    new GenericArrayData(xs.indices.map(i => if (i % 16 == 5) null else xs(i)).toArray)

  private def time(pairs: Int)(pair: Int => Double): Double = {
    var sink = 0.0
    val t0 = System.nanoTime()
    var r = 0
    while (r < pairs) { sink += pair(r); r += 1 }
    val ns = (System.nanoTime() - t0).toDouble / pairs
    if (sink == 42.4242) println("") // keeps the sum live
    ns
  }

  def main(args: Array[String]): Unit = {
    val pairs = args.headOption.map(_.toInt).getOrElse(500000)
    val reps = args.lift(1).map(_.toInt).getOrElse(7)
    val rnd = new scala.util.Random(7L)
    // (kernel, dim, kind) → the per-pair body.
    val cells = for (dim <- Seq(64, 384)) yield {
      val vecs = Array.fill(Pool)(Array.fill(dim)(rnd.nextGaussian()))
      val sets = Array.fill(Pool)(
        Array.fill(dim)(rnd.nextInt(4 * dim).toLong).distinct.sorted)
      def dotOver(ks: Array[ArrayData]): Int => Double =
        r => VectorKernels.dot(ks(r % Pool), ks((r * 7 + 3) % Pool))
      def mergeOver(ks: Array[ArrayData]): Int => Double =
        r => VectorKernels.sortedCommon(ks(r % Pool), ks((r * 7 + 3) % Pool)).toDouble
      Seq(
        ("dot", dim, "double[]", (r: Int) =>
          VectorKernels.dot(vecs(r % Pool), vecs((r * 7 + 3) % Pool))),
        ("dot", dim, "UnsafeArrayData", dotOver(vecs.map(UnsafeArrayData.fromPrimitiveArray))),
        ("dot", dim, "UnsafeRow array", dotOver(vecs.map(v => inRow(DoubleType, new GenericArrayData(v))))),
        ("dot", dim, "GenericArrayData+nulls", dotOver(vecs.map(v => withNulls(v.map(x => x: Any))))),
        ("sortedCommon", dim, "long[]", (r: Int) =>
          VectorKernels.sortedCommon(sets(r % Pool), sets((r * 7 + 3) % Pool)).toDouble),
        ("sortedCommon", dim, "UnsafeArrayData", mergeOver(sets.map(UnsafeArrayData.fromPrimitiveArray))),
        ("sortedCommon", dim, "UnsafeRow array", mergeOver(sets.map(s => inRow(LongType, new GenericArrayData(s))))),
        ("sortedCommon", dim, "GenericArrayData+nulls", mergeOver(sets.map(s => withNulls(s.map(x => x: Any))))))
    }
    val flat = cells.flatten
    flat.foreach { case (_, _, _, body) => time(pairs)(body) } // warm-up
    val samples = flat.map(_ => Array.newBuilder[Double])
    for (_ <- 0 until reps; (c, i) <- flat.zipWithIndex) samples(i) += time(pairs)(c._4)
    println(f"${"kernel"}%-13s ${"dim"}%4s ${"operands"}%-23s ${"median"}%9s ${"min"}%9s  ns/pair")
    for (((k, dim, kind, _), s) <- flat.zip(samples.map(_.result().sorted)))
      println(f"$k%-13s $dim%4d $kind%-23s ${s(s.length / 2)}%9.1f ${s(0)}%9.1f")
  }
}
