package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Unigram}
import org.apache.spark.sql.graft.UnigramKernels

/** Unigram-LM tokenizer: kernel semantics pinned to a local brute-force
  * reference, trainer invariants (coverage, bounded vocab, determinism),
  * and the encode expression end to end. */
class UnigramSpec extends SparkSpecBase {

  private def jm(ps: (String, Double)*) = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    ps.foreach { case (k, v) => m.put(k, java.lang.Double.valueOf(v)) }
    m
  }

  private def segs(w: String, m: java.util.HashMap[String, java.lang.Double],
      maxLen: Int = 8): Seq[String] = {
    import scala.jdk.CollectionConverters._
    UnigramKernels.segmentWord(w, m, maxLen).asScala.toSeq
  }

  test("segmentWord: max-logprob segmentation wins; ties break toward the " +
      "longer piece; unknown single chars fall back, never fail") {
    val m = jm("a" -> -2.0, "b" -> -2.0, "c" -> -2.0,
      "ab" -> -3.0, "abc" -> -10.0)
    // ab (-3) beats a+b (-4).
    assert(segs("ab", m) == Seq("ab"))
    // ab+c (-5) beats a+b+c (-6) and abc (-10).
    assert(segs("abc", m) == Seq("ab", "c"))
    // Exact tie x+y vs xy: longer final piece wins deterministically.
    val t = jm("x" -> -2.0, "y" -> -2.0, "xy" -> -4.0)
    assert(segs("xy", t) == Seq("xy"))
    // Unknown char segments via the penalty fallback; round trip holds.
    val out = segs("aqb", m)
    assert(out.mkString("") == "aqb" && out.contains("q"))
    // maxLen bounds the DP: with maxLen = 1 only single chars emit.
    assert(segs("abc", m, maxLen = 1) == Seq("a", "b", "c"))
  }

  test("segmentWord: brute-force score parity over an enumerated " +
      "segmentation space") {
    val m = jm("t" -> -1.5, "h" -> -2.5, "e" -> -1.0, "th" -> -2.2,
      "he" -> -2.1, "the" -> -3.9, "r" -> -3.0, "re" -> -2.8)
    def score(parts: Seq[String]): Double = parts.map { p =>
      val v = m.get(p)
      if (v != null) v.doubleValue
      else if (p.codePointCount(0, p.length) == 1) UnigramKernels.UnkLogProb
      else Double.NegativeInfinity
    }.sum
    def enumerate(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to w.length).flatMap(l =>
        enumerate(w.drop(l)).map(rest => w.take(l) +: rest))
    for (w <- Seq("the", "there", "tether", "hehe", "z", "thz")) {
      val got = segs(w, m)
      val best = enumerate(w).map(score).max
      assert(got.mkString("") == w, s"round trip broken for '$w': $got")
      assert(math.abs(score(got) - best) < 1e-12,
        s"'$w': kernel picked ${got.mkString("+")} (${score(got)}), " +
          s"brute-force best is $best")
    }
  }

  test("train: full character coverage, bounded vocab, deterministic " +
      "retrain, and a round-trip/vocab-bounded encode through the native " +
      "expression") {
    import spark.implicits._
    val docs = Seq(
      "the cat sat on the mat", "the cat ate the rat",
      "a rat and a cat share the mat", "mats and rats and cats",
      "the theme there is rather thematic").toDF("text")
    val hist = Bpe.wordHistogram(docs, "text")
    val model = Unigram.train(hist, vocabSize = 40, seedSize = 200,
      maxPieceLen = 4, emRounds = 2)
    val corpusChars = docs.select(explode(filter(
        split(lower(col("text")), ""), c => c.rlike("^[a-z0-9]$"))).as("ch"))
      .distinct().as[String].collect().toSet
    // Coverage: every corpus char is a piece (never pruned).
    assert(corpusChars.subsetOf(model.pieces.keySet),
      s"missing chars: ${corpusChars -- model.pieces.keySet}")
    // Bounded: chars + at most (vocabSize - chars) multi pieces.
    assert(model.pieces.size <= math.max(40, corpusChars.size))
    // The model actually learned structure: some multi-char piece is used.
    assert(model.usage.exists { case (p, u) => p.length > 1 && u > 0L },
      s"no multi-char piece in use: ${model.usage.take(10)}")
    // Determinism: a retrain from a fresh histogram is identical.
    val again = Unigram.train(Bpe.wordHistogram(docs, "text"),
      vocabSize = 40, seedSize = 200, maxPieceLen = 4, emRounds = 2)
    assert(again.pieces == model.pieces && again.usage == model.usage)

    // Encode through the codegen'd expression: round trip per doc, every
    // emission in vocab.
    val enc = Unigram.encode(col("text"), model)
    val words = filter(split(lower(col("text")), "[^a-z0-9]+"),
      t => length(t) > 0)
    val checked = docs.select(
      (concat_ws("", enc) === concat_ws("", words)).as("rt"),
      size(filter(enc, p => !array_contains(
        typedlit(model.pieces.keySet.toSeq.sorted), p))).as("oov"))
      .collect()
    assert(checked.forall(_.getBoolean(0)), "encode must round-trip")
    assert(checked.forall(_.getInt(1) == 0), "every emission must be in vocab")
  }

  test("supplementary-plane discipline: an astral corpus trains " +
      "isomorphically to its BMP twin (code-point seed scores — ADVICE " +
      "r15), coverage and Viterbi round-trip hold, save/load preserves " +
      "astral keys") {
    import spark.implicits._
    // 𝕒 (U+1D552) and 𝕓 (U+1D553): 2 UTF-16 units each. The corpus is
    // the exact structural twin of the ascii one; every count equal.
    val A = new String(Character.toChars(0x1D552))
    val B = new String(Character.toChars(0x1D553))
    def corpus(a: String, b: String) = Seq(
      (a + b + a + b, 7L), (a + b, 5L), (b + a, 3L), (a + a + b, 2L))
    val histB = corpus("a", "b").toDF("word", "cnt")
    val histA = corpus(A, B).toDF("word", "cnt")
    val mB = Unigram.train(histB, vocabSize = 8, seedSize = 32,
      maxPieceLen = 3, emRounds = 2)
    val mA = Unigram.train(histA, vocabSize = 8, seedSize = 32,
      maxPieceLen = 3, emRounds = 2)
    def canon(s: String) = s.replace(A, "a").replace(B, "b")
    // Isomorphic models: identical piece sets and usage under the
    // letter mapping. Pre-fix, UTF-16 seed lengths inflated every astral
    // multi-piece's initial probability 2× and the EM paths diverged.
    assert(mA.pieces.keySet.map(canon) == mB.pieces.keySet,
      s"piece sets must map 1:1, got ${mA.pieces.keySet.map(canon)} vs " +
        s"${mB.pieces.keySet}")
    assert(mA.usage.map { case (p, u) => (canon(p), u) }.toMap ==
      mB.usage.toMap, "usage must be identical under the mapping")
    // Coverage + round trip through the Viterbi kernel on astral input.
    assert(mA.pieces.contains(A) && mA.pieces.contains(B))
    val w = A + B + A + A
    assert(segs(w, org.apache.spark.sql.graft.UnigramKernels
      .toJavaMap(mA.pieces), 3).mkString("") == w,
      "astral segmentation must reconstruct the word")
    // Persistence: astral piece keys survive the parquet round trip.
    val dir = java.nio.file.Files.createTempDirectory("uniast").toString
    Unigram.save(spark, mA, dir)
    val loaded = Unigram.load(spark, dir)
    assert(loaded.pieces == mA.pieces && loaded.usage == mA.usage &&
      loaded.maxPieceLen == mA.maxPieceLen)
  }

  test("re-save retracts the commit marker FIRST: the old params must be " +
      "gone before any payload byte moves, so a crash mid re-save can " +
      "never leave a torn-but-valid model; the happy-path re-save loads " +
      "as the new model") {
    val mOld = Unigram.Model(Map("a" -> -0.5, "b" -> -1.5, "ab" -> -2.0),
      maxPieceLen = 2, usage = Seq(("ab", 5L), ("a", 2L)))
    val mNew = Unigram.Model(
      Map("a" -> -0.4, "b" -> -1.4, "c" -> -2.2, "abc" -> -3.0),
      maxPieceLen = 3, usage = Seq(("abc", 7L), ("a", 1L)))
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.reclog.impl",
      classOf[graft.tools.RecordingFileSystem].getName)
    try {
      val local = java.nio.file.Files.createTempDirectory("unrs").toString
      val dir = s"reclog://$local/m"
      Unigram.save(spark, mOld, dir)
      graft.tools.RecordingFileSystem.reset()
      Unigram.save(spark, mNew, dir)
      val j = graft.tools.RecordingFileSystem.journal
      val markerRetract = j.indexWhere { case (op, p) =>
        op == "delete" && p == s"$local/m/params" }
      val firstPieces = j.indexWhere(_._2.contains("/m/pieces"))
      assert(markerRetract >= 0, s"re-save must retract the marker: $j")
      assert(firstPieces < 0 || markerRetract < firstPieces,
        "the marker retraction must precede every pieces-file mutation " +
          s"(got retract@$markerRetract, pieces@$firstPieces)")
      // The marker is re-committed LAST (WAL order): the final params
      // write follows every pieces/usage mutation.
      val lastPayload = j.lastIndexWhere(p =>
        p._2.contains("/m/pieces") || p._2.contains("/m/usage"))
      val commit = j.lastIndexWhere { case (op, p) =>
        op != "delete" && p.contains("/m/params") }
      assert(commit > lastPayload,
        s"params must commit last (commit@$commit, payload@$lastPayload)")
      val loaded = Unigram.load(spark, dir)
      assert(loaded.pieces == mNew.pieces &&
        loaded.maxPieceLen == mNew.maxPieceLen &&
        loaded.usage == mNew.usage, "re-save must load as the new model")
      // And the crash-window state the ordering produces — marker
      // retracted, payload half-moved — fails load LOUDLY.
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(hconf)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/params"), true)
      intercept[Exception] { Unigram.load(spark, dir) }
    } finally hconf.unset("fs.reclog.impl")
  }
}
