package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Both physical strategies of exactJaccard must produce identical results —
  * to each other and to hand-computed values. */
class JaccardSpec extends SparkSpecBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e"),          // bigrams: ab bc cd de
      (2L, "a b c d x"),          // bigrams: ab bc cd dx → common 3, union 5
      (3L, "p q r s t"),
      (4L, "a b c d e")           // identical to 1
    ).toDF("doc_id", "text")
  }

  test("blocked all-pairs and prefix-join paths agree with hand math") {
    val viaBlocked = Dedup.exactJaccard(docs, "doc_id", "text",
      threshold = 0.5, maxAllPairsDocs = 8192)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaPrefixJoin = Dedup.exactJaccard(docs, "doc_id", "text",
      threshold = 0.5, maxAllPairsDocs = 0) // force the prefix-join path
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaBlocked.toSeq == viaPrefixJoin.toSeq)
    // hand-checked: (1,2) = 3/5 = 0.6, (1,4) = 1.0, (2,4) = 0.6, 3 isolated
    assert(viaBlocked.toSeq == Seq((1L, 2L, 0.6), (1L, 4L, 1.0), (2L, 4L, 0.6)))
  }

  test("dup-dense corpus: identical-set collapse expands to exact pair set") {
    import spark.implicits._
    // 3 distinct texts x 50 exact copies each: the collapse scores 3 unique
    // docsets, then expands. Texts A/B overlap (jac 0.6 over bigrams), C is
    // isolated.
    val base = Seq("a b c d e", "a b c d x", "p q r s t")
    val dense = (0 until 150).map(i => ((i + 1).toLong, base(i % 3)))
      .toDF("doc_id", "text")
    // collapseFloor = 0 forces the collapsed path (150 docs would otherwise
    // take the small-corpus fast path).
    val out = Dedup.exactJaccard(dense, "doc_id", "text", threshold = 0.5,
        collapseFloor = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // within-group: 3 x C(50,2) pairs at 1.0; cross A-B: 50*50 at 0.6.
    assert(out.count(_._3 == 1.0) == 3 * (50 * 49 / 2))
    assert(out.count(_._3 == 0.6) == 50 * 50)
    assert(out.length == 3 * 1225 + 2500)
    // a_id < b_id everywhere; no pair involves the isolated group across.
    assert(out.forall(p => p._1 < p._2))
    // The small-corpus fast path (no collapse, no persist) must produce the
    // IDENTICAL pair set — the collapse is a physical insurance, not a
    // semantic change.
    val fast = Dedup.exactJaccard(dense, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fast.sortBy(p => (p._1, p._2)).toSeq == out.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("withSketchCache releases every sketch persist when the bracket closes") {
    spark.catalog.clearCache()
    val n = Dedup.withSketchCache {
      // Forced-collapse jaccard + minhash + winnowing + simhash: four
      // persistSketch sites, plus components' returned label cache.
      val pairs = Dedup.exactJaccard(docs, "doc_id", "text",
        threshold = 0.5, collapseFloor = 0)
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      val win = Dedup.winnowing(docs, "doc_id", "text", k = 4, w = 2,
        minShared = 1)
      val sh = Dedup.simhash(docs, "doc_id", "text")
      val comp = Dedup.components(pairs, "a_id", "b_id", localEdgeCap = 0)
      pairs.count() + lsh.count() + win.count() + sh.count() + comp.count()
    }
    assert(n > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "sketch caches leaked past the withSketchCache bracket")
  }

  test("sorted-merge kernel counts common elements exactly") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 9L), Seq(2L, 3L, 9L, 11L)), // {3,9} → 2
      (Seq(-5L, 7L), Seq(8L, 9L)),             // disjoint → 0
      (Seq.empty[Long], Seq(1L))               // empty → 0
    ).toDF("a", "b")
    val got = df.select(
      graft.functions.GraftFunctions.sortedCommon(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 0L, 0L))
  }

  test("bitset kernel counts common bits exactly") {
    import spark.implicits._
    val df = Seq(
      (Seq(5L, 0L), Seq(1L, 0L)),   // 101 & 001 → 1 bit
      (Seq(-1L, -1L), Seq(-1L, -1L)) // all 128 bits
    ).toDF("a", "b")
    val got = df.select(
      graft.functions.GraftFunctions.bitsetCommon(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 128L))
  }
}
