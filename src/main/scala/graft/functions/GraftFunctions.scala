package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, ExpressionInfo, Literal, RegExpExtractAll, RegExpReplace, Size}
import org.apache.spark.sql.graft.{BitsetIntersectCount, ByteBlockHash, DotProduct, GraftBridge, MinHashSig, RollingHashes, ShingleHashSet, SimHash64, SortedIntersectCount, WinnowFingerprints}
import org.apache.spark.sql.types.LongType

/** Public registration + Column-API access for graft's native Catalyst
  * expressions (see org.apache.spark.sql.graft for the implementations). */
object GraftFunctions {

  /** Every graft SQL function as (name, usage, builder). [[register]] and
    * [[graft.GraftExtensions]] both iterate this one table, so a
    * `Tables.ensure` session and an extensions session expose the same
    * functions. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = {
    // Sketch kernels whose tuning arguments are plan-time constants: the
    // SQL argument must be a foldable literal (same contract as Spark's
    // own approx_percentile accuracy argument).
    def litInt(e: Expression, fn: String, arg: String): Int = {
      require(e.foldable, s"$fn: $arg must be a literal integer")
      e.eval().asInstanceOf[Number].intValue()
    }
    // Composed-from-built-ins functions build catalyst trees from the SAME
    // pattern list the Column API uses (a bridged Column composition would
    // arrive as unresolved ColumnNodes and never re-resolve mid-analysis).
    val pii = graft.operators.TextOps.piiPatterns
    def redactExpr(arg: Expression): Expression =
      pii.foldLeft(arg) { case (acc, (re, tag)) =>
        RegExpReplace(acc, Literal(re), Literal(tag))
      }
    def piiCountExpr(arg: Expression): Expression = {
      val (_, n) = pii.foldLeft((arg, Literal(0): Expression)) {
        case ((acc, cnt), (re, tag)) =>
          (RegExpReplace(acc, Literal(re), Literal(tag)),
            Add(cnt, Size(RegExpExtractAll(acc, Literal(re), Literal(0)))))
      }
      Cast(n, LongType)
    }
    Seq(
      ("graft_dot", "graft_dot(a, b) - dot product of two array<double>",
        a => DotProduct(a.head, a(1))),
      ("graft_bitset_common",
        "graft_bitset_common(a, b) - popcount of ANDed array<bigint> bitsets",
        a => BitsetIntersectCount(a.head, a(1))),
      ("graft_sorted_common",
        "graft_sorted_common(a, b) - intersection size of sorted array<bigint>",
        a => SortedIntersectCount(a.head, a(1))),
      ("graft_shingle_hashes",
        "graft_shingle_hashes(tokens, n) - sorted distinct 64-bit hashes of n-grams of array<string>",
        a => ShingleHashSet(a.head, litInt(a(1), "graft_shingle_hashes", "n"))),
      ("graft_minhash",
        "graft_minhash(hashes, k) - k-long MinHash signature of array<bigint>",
        a => MinHashSig(a.head, litInt(a(1), "graft_minhash", "k"))),
      ("graft_simhash",
        "graft_simhash(hashes) - 64-bit SimHash of array<bigint> element hashes",
        a => SimHash64(a.head)),
      ("graft_winnow",
        "graft_winnow(text, k, w) - winnowing fingerprints (k-gram, window w)",
        a => WinnowFingerprints(a.head, litInt(a(1), "graft_winnow", "k"),
          litInt(a(2), "graft_winnow", "w"))),
      ("graft_byte_block_hash",
        "graft_byte_block_hash(content) - 64-bit byte-block average-hash of binary",
        a => ByteBlockHash(a.head)),
      ("graft_redact_pii",
        "graft_redact_pii(text) - text with email/IP/card/phone matches tagged",
        a => redactExpr(a.head)),
      ("graft_pii_count",
        "graft_pii_count(text) - count of PII matches graft_redact_pii removes",
        a => piiCountExpr(a.head)))
  }

  /** Catalog entry of a [[sqlFunctions]] row. */
  def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  /** Make the graft SQL functions callable in this session. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name, usage), builder)
    }

  /** Codegen'd dot product over two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd popcount of the AND of two array<bigint> bitsets. */
  def bitsetCommon(a: Column, b: Column): Column =
    GraftBridge.column(BitsetIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd merge-intersection size of two sorted array<bigint> sets. */
  def sortedCommon(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Sorted distinct xxhash64 set of the n-token shingles of a token array. */
  def shingleHashes(tokens: Column, n: Int): Column =
    GraftBridge.column(ShingleHashSet(GraftBridge.expression(tokens), n))

  /** k-long MinHash signature of an array<bigint> element-hash set. */
  def minhashSig(hashes: Column, k: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(hashes), k))

  /** 64-bit SimHash of an array<bigint> element-hash set. */
  def simhash(hashes: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(hashes)))

  /** Sorted distinct winnowing fingerprints (rolling-hash byte k-grams,
    * rightmost-min per w-window) of a string column. */
  def winnow(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFingerprints(GraftBridge.expression(text), k, w))

  /** Per-position rolling k-gram hash sequence — the sequence [[winnow]]
    * selects from, for in-plan attestation of its coverage guarantee. */
  def rollingHashes(text: Column, k: Int): Column =
    GraftBridge.column(RollingHashes(GraftBridge.expression(text), k))

  /** 64-bit byte-block average-hash of a binary column — the perceptual-
    * hash voting step, locality-sensitive in the byte domain. */
  def byteBlockHash(content: Column): Column =
    GraftBridge.column(ByteBlockHash(GraftBridge.expression(content)))

  /** Index of the centroid (rows of `cents`) with the highest dot product
    * against an array<double> column — fused codegen'd argmax. */
  def nearestCentroid(v: Column, cents: Seq[Seq[Double]]): Column =
    GraftBridge.column(
      org.apache.spark.sql.graft.NearestCentroid(GraftBridge.expression(v), cents))

  /** Top-k centroid indices by dot product, descending (array<int>) — the
    * IVF multi-assignment kernel. */
  def nearestCentroids(v: Column, cents: Seq[Seq[Double]], k: Int): Column =
    GraftBridge.column(
      org.apache.spark.sql.graft.NearestCentroids(
        GraftBridge.expression(v), cents, k))

  /** Product-quantization code words (array<int>, one per subspace) of an
    * array<double> vector against baked codebooks cb(subspace)(centroid). */
  def pqEncode(v: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(
      org.apache.spark.sql.graft.PqEncode(GraftBridge.expression(v), cb))

  /** Flattened PQ asymmetric-distance lookup table (m·ksub doubles) of a
    * query vector against the baked codebooks. */
  def pqLut(v: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(
      org.apache.spark.sql.graft.PqLut(GraftBridge.expression(v), cb))

  /** PQ asymmetric score Σ_j lut(j·ksub + codes(j)) ≈ the raw dot product. */
  def pqScore(codes: Column, lut: Column): Column =
    GraftBridge.column(org.apache.spark.sql.graft.PqScore(
      GraftBridge.expression(codes), GraftBridge.expression(lut)))

  /** One greedy left-to-right BPE merge of (a, b) over an array<string>
    * symbol column — the training round's map step. */
  def bpeMergePair(syms: Column, a: String, b: String): Column =
    GraftBridge.column(org.apache.spark.sql.graft.BpeMergePair(
      GraftBridge.expression(syms), a, b))

  /** Full BPE encode of an array<string> word column under a baked merge
    * table (rank order = seq order). */
  def bpeEncodeWords(words: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(org.apache.spark.sql.graft.BpeEncodeWords(
      GraftBridge.expression(words), merges))

  /** Sequential regex replace-and-count chain in one kernel pass per
    * pattern: struct(redacted string, matches bigint). */
  def regexScrub(text: Column, patterns: Seq[(String, String)]): Column =
    GraftBridge.column(org.apache.spark.sql.graft.RegexScrub(
      GraftBridge.expression(text), patterns))

  /** Z-order (Morton) value of an array<double> of clustering values
    * under baked per-dimension equi-depth boundaries — the clustering key
    * [[graft.sources.Sink.zordered]] lays files out by. */
  def zValue(vals: Column, boundaries: Seq[Seq[Double]], bits: Int): Column =
    GraftBridge.column(org.apache.spark.sql.graft.ZValue(
      GraftBridge.expression(vals), boundaries, bits))

  /** Unigram-LM (SentencePiece-style) Viterbi encode of an array<string>
    * word column under a baked piece→logprob table (the model — vocab
    *-bounded, corpus-size-constant). */
  def unigramEncodeWords(words: Column, pieces: Map[String, Double],
      maxPieceLen: Int): Column =
    GraftBridge.column(org.apache.spark.sql.graft.UnigramEncodeWords(
      GraftBridge.expression(words), pieces, maxPieceLen))
}
