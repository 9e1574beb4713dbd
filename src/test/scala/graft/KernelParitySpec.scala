package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr}

import graft.functions.GraftFunctions

/** Interpreted and codegen evaluation of the four pair-scoring kernels
  * (`graft_dot`, `graft_bitset_common`, `graft_sorted_common`, `pqScore`)
  * agree bit for bit on edge inputs: null operands, empty arrays,
  * mismatched lengths, NaN/±Inf elements, `Long.MinValue`/`MaxValue` words,
  * and sorted sets with no or full overlap. */
class KernelParitySpec extends SparkSpecBase {

  /** The two evaluation paths: fully interpreted (no whole-stage codegen,
    * interpreted projections) and codegen-only. */
  private val paths = Seq("NO_CODEGEN" -> false, "CODEGEN_ONLY" -> true)

  /** Runs `body` on one path. ConvertToLocalRelation is excluded so a
    * projection runs in a task instead of being folded on the driver by
    * interpreted eval. */
  private def onPath[T](mode: String, wholeStage: Boolean)(body: => T): T = {
    val conf = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> wholeStage.toString,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `df.select(cols)` collected on both paths. Doubles compare by bit
    * pattern, so NaN, ±Inf and -0.0 must match exactly. */
  private def bothPaths(df: DataFrame, cols: Column*): Seq[Seq[Seq[Any]]] =
    paths.map { case (mode, wholeStage) =>
      onPath(mode, wholeStage) {
        val q = df.select(cols: _*)
        val rows = q.collect().toSeq.map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        })
        val codegen = q.queryExecution.executedPlan
          .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
        assert(codegen == wholeStage, s"$mode plan")
        rows
      }
    }

  private def assertParity(df: DataFrame, cols: Column*): Unit = {
    val Seq(interpreted, codegen) = bothPaths(df, cols: _*)
    assert(interpreted == codegen)
  }

  private val Inf = Double.PositiveInfinity

  test("graft_dot: nulls, empty, mismatched lengths, NaN and ±Inf") {
    import spark.implicits._
    val df = Seq[(Option[Seq[Double]], Option[Seq[Double]])](
      (None, Some(Seq(1.0))),
      (Some(Seq(1.0)), None),
      (Some(Seq.empty), Some(Seq.empty)),
      (Some(Seq.empty), Some(Seq(1.0, 2.0))),
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0))),
      (Some(Seq(Double.NaN, 1.0)), Some(Seq(1.0, 1.0))),
      (Some(Seq(Inf, 1.0)), Some(Seq(-Inf, 1.0))),
      (Some(Seq(Inf)), Some(Seq(0.0))),
      (Some(Seq(Inf, -Inf)), Some(Seq(1.0, 1.0))),
      (Some(Seq(-0.0)), Some(Seq(1.0))),
      (Some(Seq(1e308, 1e308, -1e308)), Some(Seq(10.0, 10.0, 10.0))),
      // Order-sensitive cancellation: index order sums to 0.0, any other
      // order to 1.0.
      (Some(Seq(1.0, 1e16, -1e16)), Some(Seq(1.0, 1.0, 1.0)))
    ).toDF("a", "b")
    assertParity(df, expr("graft_dot(a, b)"))
  }

  test("graft_bitset_common: nulls, empty, mismatched lengths, extreme words") {
    import spark.implicits._
    val (mn, mx) = (Long.MinValue, Long.MaxValue)
    val df = Seq[(Option[Seq[Long]], Option[Seq[Long]])](
      (None, Some(Seq(1L))),
      (Some(Seq(1L)), None),
      (Some(Seq.empty), Some(Seq.empty)),
      (Some(Seq(-1L, -1L, -1L)), Some(Seq(-1L))),
      (Some(Seq(mn, mx)), Some(Seq(mn, mx))),
      (Some(Seq(mn, mx)), Some(Seq(mx, mn))),
      (Some(Seq(mn, 0L, mx)), Some(Seq(-1L, -1L, -1L, -1L)))
    ).toDF("a", "b")
    assertParity(df, expr("graft_bitset_common(a, b)"))
  }

  test("graft_sorted_common: nulls, empty, no/full overlap, extreme values") {
    import spark.implicits._
    val (mn, mx) = (Long.MinValue, Long.MaxValue)
    val df = Seq[(Option[Seq[Long]], Option[Seq[Long]])](
      (None, Some(Seq(1L))),
      (Some(Seq(1L)), None),
      (Some(Seq.empty), Some(Seq.empty)),
      (Some(Seq.empty), Some(Seq(1L, 2L))),
      (Some(Seq(1L, 3L, 5L)), Some(Seq(2L, 4L, 6L))),
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L))),
      (Some(Seq(1L, 2L)), Some(Seq(1L, 2L, 3L, 4L))),
      (Some(Seq(mn, -1L, 0L, mx)), Some(Seq(mn, mx))),
      (Some(Seq(mn)), Some(Seq(mx)))
    ).toDF("a", "b")
    assertParity(df, expr("graft_sorted_common(a, b)"))
  }

  test("pqScore: nulls, uneven LUT stride, NaN and ±Inf entries") {
    import spark.implicits._
    val df = Seq[(Option[Seq[Int]], Option[Seq[Double]])](
      (None, Some(Seq(1.0, 2.0))),
      (Some(Seq(0)), None),
      (Some(Seq(0, 1)), Some(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))),
      (Some(Seq(2, 0)), Some(Seq(0.5, 1.5, 2.5, 3.5, 4.5))), // ksub = 2
      (Some(Seq(1, 1)), Some(Seq(0.0, Double.NaN, 0.0, 1.0))),
      (Some(Seq(0, 0)), Some(Seq(Inf, 0.0, -Inf, 0.0))),
      (Some(Seq(0, 1)), Some(Seq(Inf, 0.0, 0.0, Inf)))
    ).toDF("codes", "lut")
    assertParity(df, GraftFunctions.pqScore(col("codes"), col("lut")))
  }

  test("pqScore: empty codes divide by zero on both paths") {
    import spark.implicits._
    val df = Seq((Seq.empty[Int], Seq(1.0))).toDF("codes", "lut")
    val errs = paths.map { case (mode, wholeStage) =>
      onPath(mode, wholeStage) {
        intercept[Exception] {
          df.select(GraftFunctions.pqScore(col("codes"), col("lut"))).collect()
        }
      }
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(errs.forall(e => rootCause(e).isInstanceOf[ArithmeticException]))
  }
}
