package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr, rand, typedlit, when}

import graft.functions.GraftFunctions

/** Interpreted and codegen evaluation of the four pair-scoring kernels
  * (`graft_dot`, `graft_bitset_common`, `graft_sorted_common`, `pqScore`),
  * the centroid and PQ-encoding kernels (`graft_nearest_centroid(s)`,
  * `graft_pq_encode`, `graft_pq_lut`), the six sketch kernels the dedup
  * indexes persist (shingle set, MinHash, SimHash, winnow, rolling hashes,
  * byte-block hash), the three tokenizer kernels (`graft_unigram_encode`,
  * `graft_bpe_merge_pair`, `graft_bpe_encode`), the PII scrub
  * (`graft_regex_scrub`), the bloom sidecar probe
  * (`graft_bloom_might_contain`) and the z-order key (`graft_zvalue`) agree
  * bit for bit on edge inputs: null operands, null elements, literal
  * (`GenericArrayData`) operands, empty arrays, empty strings, mismatched
  * lengths, NaN/±Inf elements, ties, `Long.MinValue`/`MaxValue` words,
  * sorted sets with no or full overlap, inputs shorter than one k-gram,
  * overlapping matches, values on a boundary, and surrogate-pair and
  * combining-mark text. Malformed `pqScore`, `pqEncode` and `pqLut` shapes
  * throw the same error on both paths. */
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

  /** Doubles, also inside arrays, as bit patterns, so NaN, ±Inf and -0.0
    * must match exactly. */
  private def exact(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(exact)
    case v => v
  }

  /** `df.select(cols)` collected on both paths, compared by [[exact]]. */
  private def bothPaths(df: DataFrame, cols: Column*): Seq[Seq[Any]] =
    paths.map { case (mode, wholeStage) =>
      onPath(mode, wholeStage) {
        val q = df.select(cols: _*)
        val rows = q.collect().toSeq.map(r => exact(r.toSeq))
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
      (Some(Seq(1, 1)), Some(Seq(0.0, Double.NaN, 0.0, 1.0))),
      (Some(Seq(0, 0)), Some(Seq(Inf, 0.0, -Inf, 0.0))),
      (Some(Seq(0, 1)), Some(Seq(Inf, 0.0, 0.0, Inf)))
    ).toDF("codes", "lut")
    assertParity(df, GraftFunctions.pqScore(col("codes"), col("lut")))
  }

  test("pqScore: malformed shapes throw IllegalArgumentException on both paths") {
    import spark.implicits._
    val malformed = Seq(
      (Seq.empty[Int], Seq(1.0)),
      // 5 entries do not split into 2 subspaces, and code 2 is outside
      // [0, ksub) for the ksub = 2 the old kernel derived.
      (Seq(2, 0), Seq(0.5, 1.5, 2.5, 3.5, 4.5)),
      (Seq(0, 2), Seq(1.0, 2.0, 3.0, 4.0)),
      (Seq(-1), Seq(1.0, 2.0)))
    for ((codes, lut) <- malformed; (mode, wholeStage) <- paths) {
      val df = Seq((codes, lut)).toDF("codes", "lut")
      val e = onPath(mode, wholeStage) {
        intercept[Exception] {
          df.select(GraftFunctions.pqScore(col("codes"), col("lut"))).collect()
        }
      }
      assert(rootCause(e).isInstanceOf[IllegalArgumentException],
        s"$mode $codes $lut: $e")
    }
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  /** Vectors for the centroid and PQ kernels: a null operand, null
    * elements, empty, NaN and ±Inf elements, and rows whose scores tie. */
  private val vectors = Seq[Option[Seq[Option[Double]]]](
    None,
    Some(Seq(Some(1.0), None, Some(2.0), Some(0.5))),
    Some(Seq(Some(Double.NaN), Some(1.0), Some(0.0), Some(1.0))),
    Some(Seq(Some(Inf), Some(-Inf), Some(0.0), Some(1.0))),
    Some(Seq.fill(4)(Some(Double.NaN))),
    Some(Seq(Some(1.0), Some(1.0), Some(1.0), Some(1.0))),
    Some(Seq(Some(0.0), Some(0.0), Some(0.0), Some(0.0))))

  /** `xs` as a literal (`GenericArrayData`) operand. The CASE over a
    * nondeterministic (always true) condition keeps constant folding from
    * evaluating the kernel on the driver. */
  private def literalVector(xs: Option[Double]*): Column =
    when(rand(1) < 2, typedlit(xs.toSeq))

  test("graft_nearest_centroid(s): nulls, null elements, literals, short and long vectors, NaN/±Inf, ties") {
    import spark.implicits._
    // Centroid 2 repeats centroid 0, so every row that prefers 0 ties.
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(1.0, 0.0, 0.0),
      Seq(0.0, 0.0, -1.0))
    val df = (vectors ++ Seq(
      Some(Seq.empty),
      Some(Seq(Some(0.0), Some(2.0))),
      Some(Seq(Some(3.0))))).toDF("v")
    assertParity(df,
      GraftFunctions.nearestCentroid(col("v"), cents),
      GraftFunctions.nearestCentroids(col("v"), cents, 2),
      GraftFunctions.nearestCentroids(col("v"), cents, 9),
      GraftFunctions.nearestCentroid(literalVector(Some(0.5), None, Some(2.0)), cents),
      GraftFunctions.nearestCentroids(literalVector(None, Some(0.5)), cents, 3))
  }

  /** Two subspaces of width 2, three centroids each; centroid 2 of
    * subspace 0 repeats centroid 0, so ties go to the lower index. */
  private val codebooks = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 0.0)),
    Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0), Seq(0.0, 2.0)))

  test("graft_pq_encode and graft_pq_lut: nulls, null elements, literals, long vectors, NaN/±Inf, ties") {
    import spark.implicits._
    val df = (vectors ++ Seq(
      Some(Seq(0.5, 0.5, 0.0, 1.0, 7.0, -7.0).map(Some(_))))).toDF("v")
    assertParity(df,
      GraftFunctions.pqEncode(col("v"), codebooks),
      GraftFunctions.pqLut(col("v"), codebooks),
      GraftFunctions.pqEncode(literalVector(Some(1.0), None, Some(-1.0), Some(0.0)), codebooks),
      GraftFunctions.pqLut(literalVector(None, Some(1.0), Some(2.0), Some(3.0), Some(4.0)), codebooks))
  }

  test("graft_pq_encode and graft_pq_lut: short vectors throw IllegalArgumentException on both paths") {
    import spark.implicits._
    val wide = Seq(Seq(Seq(1.0, 2.0, 3.0, 4.0), Seq(0.0, 0.0, 0.0, 0.0)),
      Seq(Seq(4.0, 3.0, 2.0, 1.0), Seq(1.0, 1.0, 1.0, 1.0)))
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("v")
    val short = literalVector(Some(1.0), Some(2.0), Some(3.0))
    val cases = Seq(
      "encode, column" -> GraftFunctions.pqEncode(col("v"), wide),
      "lut, column" -> GraftFunctions.pqLut(col("v"), wide),
      "encode, literal" -> GraftFunctions.pqEncode(short, wide),
      "lut, literal" -> GraftFunctions.pqLut(short, wide))
    for ((name, c) <- cases; (mode, wholeStage) <- paths) {
      val e = onPath(mode, wholeStage) {
        intercept[Exception](df.select(c).collect())
      }
      assert(rootCause(e).isInstanceOf[IllegalArgumentException],
        s"$mode $name: $e")
    }
    // A subspace whose centroids differ in width is refused up front.
    val ragged = Seq(Seq(Seq(1.0, 2.0), Seq(1.0)))
    intercept[IllegalArgumentException](GraftFunctions.pqEncode(col("v"), ragged))
    intercept[IllegalArgumentException](GraftFunctions.pqLut(col("v"), ragged))
  }

  // Sketch kernels the persisted dedup indexes store.

  private val (mn, mx) = (Long.MinValue, Long.MaxValue)

  /** Text edge cases: null, empty, shorter than every k-gram, astral-plane
    * (surrogate-pair) and combining-mark text, and ordinary prose. */
  private val texts = Seq[Option[String]](
    None,
    Some(""),
    Some("ab"),
    Some("\uD835\uDD18\uD835\uDD2B\uD835\uDD26 \uD83D\uDE00\uD83D\uDE00 x"),
    Some("cafe\u0301 noe\u0308l n\u0303o\u0303 e\u0301e\u0301e\u0301"),
    Some("the quick brown fox jumps over the lazy dog the quick brown fox"))

  test("graft_shingle_hashes: null, empty, short, astral and combining tokens") {
    import spark.implicits._
    val df = Seq[Option[Seq[String]]](
      None,
      Some(Seq.empty),
      Some(Seq("one")),
      Some(Seq("\uD83D\uDE00", "\uD835\uDD18\uD835\uDD2B", "\uD83D\uDE00")),
      Some(Seq("cafe\u0301", "noe\u0308l", "cafe\u0301", "noe\u0308l")),
      Some(Seq("a", "b", "c", "d", "a", "b"))
    ).toDF("tokens")
    assertParity(df,
      GraftFunctions.shingleHashes(col("tokens"), 2),
      GraftFunctions.shingleHashes(col("tokens"), 3))
  }

  test("graft_minhash and graft_simhash: null, empty, extreme hashes") {
    import spark.implicits._
    val df = Seq[Option[Seq[Long]]](
      None,
      Some(Seq.empty),
      Some(Seq(mn)),
      Some(Seq(mx)),
      Some(Seq(mn, -1L, 0L, 1L, mx)),
      Some(Seq(mx, mx, mn, mn)),
      Some(Seq(1L, 2L, 3L))
    ).toDF("h")
    assertParity(df,
      GraftFunctions.minhashSig(col("h"), 4),
      GraftFunctions.simhash(col("h")))
  }

  test("graft_winnow and rolling hashes: null, empty, short, astral, combining") {
    import spark.implicits._
    val df = texts.toDF("t")
    assertParity(df,
      GraftFunctions.winnow(col("t"), 4, 3),
      GraftFunctions.winnow(col("t"), 1, 1),
      GraftFunctions.rollingHashes(col("t"), 4),
      GraftFunctions.rollingHashes(col("t"), 1))
  }

  test("graft_byte_block_hash: null, empty, short, astral and extreme bytes") {
    import spark.implicits._
    val df = (texts.map(_.map(_.getBytes("UTF-8"))) ++ Seq(
      Some(Array[Byte](0)),
      Some(Array.fill[Byte](67)(-1)),
      Some(Array.tabulate[Byte](256)(i => i.toByte))
    )).toDF("b")
    assertParity(df, GraftFunctions.byteBlockHash(col("b")))
  }

  // Tokenizer, scrub, bloom-probe and z-order kernels.

  /** Word lists: null, empty, an empty word, astral-plane and
    * combining-mark words, and words some pieces or merges cover, some
    * only in part and one not at all. */
  private val wordLists = Seq[Option[Seq[String]]](
    None,
    Some(Seq.empty),
    Some(Seq("")),
    Some(Seq("\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00", "\uD835\uDD18x")),
    Some(Seq("cafe\u0301", "noe\u0308l", "e\u0301e\u0301")),
    Some(Seq("lower", "newest", "widest", "low", "zzz")))

  test("graft_unigram_encode: null, empty, empty word, astral, combining, unknown pieces, ties") {
    import spark.implicits._
    // "lowe"+"r" and "low"+"er" tie at -2.5; "😀😀" and "😀"+"😀" tie at -2.0.
    val pieces = Map("lo" -> -1.0, "low" -> -1.5, "lowe" -> -1.0, "er" -> -1.0,
      "r" -> -1.5, "e" -> -3.0, "w" -> -3.0, "n" -> -3.0, "est" -> -1.1,
      "\u0301" -> -0.5, "\uD83D\uDE00" -> -1.0, "\uD83D\uDE00\uD83D\uDE00" -> -2.0)
    assertParity(wordLists.toDF("w"),
      GraftFunctions.unigramEncodeWords(col("w"), pieces, 4),
      GraftFunctions.unigramEncodeWords(col("w"), pieces, 1),
      GraftFunctions.unigramEncodeWords(col("w"), Map.empty, 3),
      GraftFunctions.unigramEncodeWords(when(rand(1) < 2, typedlit(Seq("lower", ""))), pieces, 4))
  }

  test("graft_bpe_merge_pair and graft_bpe_encode: null, empty, overlapping pairs, astral, combining") {
    import spark.implicits._
    val symbols = Seq[Option[Seq[String]]](
      None,
      Some(Seq.empty),
      Some(Seq("a")),
      Some(Seq("a", "a", "a")),
      Some(Seq("a", "a", "a", "a")),
      Some(Seq("\uD83D\uDE00", "a", "\uD83D\uDE00", "a")),
      Some(Seq("", "a", "", "a")))
    assertParity(symbols.toDF("s"),
      GraftFunctions.bpeMergePair(col("s"), "a", "a"),
      GraftFunctions.bpeMergePair(col("s"), "\uD83D\uDE00", "a"),
      GraftFunctions.bpeMergePair(col("s"), "", "a"),
      GraftFunctions.bpeMergePair(when(rand(1) < 2, typedlit(Seq("a", "a", "a"))), "a", "a"))
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "s", "es" -> "t", "est" -> "</w>",
      "\uD83D\uDE00" -> "\uD83D\uDE00", "e" -> "\u0301", "low" -> "e", "lowe" -> "r")
    assertParity(wordLists.toDF("w"),
      GraftFunctions.bpeEncodeWords(col("w"), merges),
      GraftFunctions.bpeEncodeWords(col("w"), Seq.empty),
      GraftFunctions.bpeEncodeWords(when(rand(1) < 2, typedlit(Seq("lower", ""))), merges))
  }

  test("graft_regex_scrub: null, empty, no match, adjacent and overlapping matches, $ and \\ in tags") {
    import spark.implicits._
    val df = (texts ++ Seq(
      Some("mail a@b.co,c@d.org; ip 10.0.0.1 card 4111111111111111 +1 (555) 010-9999"),
      Some("aaaaa"))).toDF("t")
    assertParity(df,
      GraftFunctions.regexScrub(col("t"), graft.operators.TextOps.piiPatterns),
      GraftFunctions.regexScrub(col("t"), Seq("aa" -> "$1\\", "a" -> "<A>", "^" -> "^", "x*" -> "-")))
  }

  test("graft_bloom_might_contain: null, empty, astral, combining, members and non-members") {
    import spark.implicits._
    val members = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    Seq("", "ab", "cafe\u0301 noe\u0308l n\u0303o\u0303 e\u0301e\u0301e\u0301").foreach(members.putString)
    val empty = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    val df = (texts ++ Seq(Some("a"), Some("ab "))).toDF("t")
    val Seq(interpreted, codegen) = bothPaths(df,
      GraftFunctions.bloomMightContain(col("t"), members),
      GraftFunctions.bloomMightContain(col("t"), empty))
    assert(interpreted == codegen)
    // Members are always found; the empty filter finds nothing.
    val rows = interpreted.map(_.asInstanceOf[Seq[Any]])
    assert(rows.take(3) == Seq(Seq(null, null), Seq(true, false), Seq(true, false)))
    assert(rows.tail.forall(_(1) == false))
  }

  test("graft_zvalue: null, null elements, NaN/±Inf, values on and between boundaries, literals") {
    import spark.implicits._
    val df = Seq[Option[Seq[Option[Double]]]](
      None,
      Some(Seq(None, None, None)),
      Some(Seq(Some(Double.NaN), Some(Inf), Some(-Inf))),
      Some(Seq(Some(0.0), Some(-0.0), Some(1.0))),
      Some(Seq(Some(0.5), Some(2.5), Some(1e308))),
      Some(Seq(Some(-1e308), None, Some(3.0))),
      Some(Seq(Some(2.0), Some(-1.0), Some(Double.MinPositiveValue)))).toDF("v")
    // The third dimension repeats a cut point.
    val bounds = Seq(Seq(0.0, 1.0, 2.0), Seq(-1.0, 0.0, 2.5), Seq(1.0, 1.0, 3.0))
    assertParity(df,
      GraftFunctions.zValue(col("v"), bounds, 2),
      GraftFunctions.zValue(col("v"), bounds, 21),
      GraftFunctions.zValue(col("v"), bounds.take(1), 63),
      GraftFunctions.zValue(col("v"), Seq(Seq.empty, Seq.empty, Seq.empty), 1),
      GraftFunctions.zValue(literalVector(Some(0.5), None, Some(3.0)), bounds, 2))
  }
}
