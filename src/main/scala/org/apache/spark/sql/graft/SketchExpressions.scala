/** Native per-row sketch kernels (shingle hash-sets, MinHash, SimHash).
  *
  * Why expressions and not built-in compositions: the sketch math is
  * per-element loops (n-gram windows, k hash families, 64 bit-planes).
  * Expressed with higher-order functions those loops evaluate interpreted —
  * per-element Catalyst dispatch plus re-evaluation of captured
  * sub-expressions (measured seconds at sf0.1 for 5k docs). Expressed as
  * explode → 64 aggregate columns they force a shuffle per sketch. As
  * native expressions each sketch is one codegen-visible call into a tight
  * JVM loop: the whole sketch pipeline becomes a map-side projection that
  * scales linearly with input splits — on a 100 TB corpus, signatures
  * compute inside the scan stage with zero shuffle.
  *
  * Hashing matches Spark's `xxhash64(...)` chaining (seed 42, then
  * per-value chaining via [[XXH64]]), so these kernels are reproducible
  * from public SQL semantics.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Loop bodies shared by interpreted eval and generated code. Top-level
  * object → static forwarders, callable from Janino-compiled codegen. */
object SketchKernels {

  /** Sorted distinct xxhash64 of every n-token window. Hash of window
    * (w_i … w_{i+n-1}) ≡ SQL `xxhash64(w_i, …, w_{i+n-1})`. */
  def shingleHashSet(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 42L
      var k = 0
      while (k < n) {
        h = XXH64.hashUTF8String(tokens.getUTF8String(i + k), h)
        k += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < m) {
      if (hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }

  /** k-function MinHash: sig(j) = min over h of `xxhash64(h, j)`
    * (hashLong then hashInt chaining, seed 42 — Spark's family). */
  def minhashSig(hs: ArrayData, k: Int): ArrayData = {
    val m = hs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val base = XXH64.hashLong(hs.getLong(i), 42L)
      var j = 0
      while (j < k) {
        val v = XXH64.hashInt(j, base)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * Rabin-Karp rolling hash over byte k-grams (O(1) per position), each
    * base hash avalanched through [[XXH64.hashLong]] (seed 42), then the
    * RIGHTMOST minimum of every w-hash window is selected (robust
    * winnowing). Guarantees: any byte-substring match of length
    * ≥ w + k − 1 yields a shared fingerprint; density ≈ 2/(w+1). Output is
    * the sorted distinct selected hashes — ready for bucket-join dedup.
    * Docs shorter than k bytes fingerprint to the empty set. */
  def winnowFingerprints(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val hs = rollingHashArray(text, k)
    val m = hs.length
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    // Rightmost-min of each w-window via a monotonic (strictly increasing)
    // index deque — O(m) total.
    val sel = new java.util.TreeSet[java.lang.Long]()
    val dq = new Array[Int](m)
    var lo = 0
    var hi = 0 // deque in dq[lo, hi)
    var i = 0
    while (i < m) {
      while (hi > lo && hs(dq(hi - 1)) >= hs(i)) hi -= 1 // keep rightmost min
      dq(hi) = i; hi += 1
      if (dq(lo) <= i - w) lo += 1
      if (i >= w - 1 || i == m - 1) sel.add(hs(dq(lo)))
      i += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** The per-position avalanched rolling-hash sequence winnowing selects
    * from: hash i covers the byte k-gram at offset i. Shared by
    * [[winnowFingerprints]] and exposed via [[rollingHashes]] so the
    * winnowing WINDOW-COVERAGE guarantee (every w-window's min is a
    * selected fingerprint) is independently checkable in-plan. */
  private def rollingHashArray(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): Array[Long] = {
    val bytes = text.getBytes
    val m = bytes.length - k + 1
    if (m <= 0) return Array.empty[Long]
    // Rolling base hash: h_i = sum b[i+j] * B^(k-1-j) mod 2^64.
    val B = 1000003L
    var top = 1L // B^(k-1)
    var j = 1
    while (j < k) { top *= B; j += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    hs(0) = XXH64.hashLong(h, 42L)
    i = 1
    while (i < m) {
      h = (h - (bytes(i - 1) & 0xffL) * top) * B + (bytes(i + k - 1) & 0xffL)
      hs(i) = XXH64.hashLong(h, 42L)
      i += 1
    }
    hs
  }

  def rollingHashes(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): ArrayData =
    new GenericArrayData(rollingHashArray(text, k))

  /** 64-bit SimHash over element hashes: bit b set iff more elements have
    * bit b set than clear (+1/−1 vote per element). */
  def simhash64(hs: ArrayData): Long = {
    val m = hs.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }

  /** 64-bit average-hash over byte blocks: the payload splits into 64
    * equal-ish slices; bit b is set iff slice b's mean byte value exceeds
    * the global mean. Locality-sensitive in the byte domain — a local edit
    * perturbs only the slices it touches, so Hamming distance tracks edit
    * locality. This is the aHash family's voting step; the DCT/resize of a
    * true pHash belongs to the decoded-pixel domain (the codec slot —
    * stubbed as identity in this container, see operators/Multimodal). */
  def byteBlockHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = ((i.toLong * 64) / n).toInt
      sums(s) += (bytes(i) & 0xff)
      cnts(s) += 1
      i += 1
    }
    var total = 0L
    var j = 0
    while (j < 64) { total += sums(j); j += 1 }
    val mean = total.toDouble / n
    var h = 0L
    j = 0
    while (j < 64) {
      if (cnts(j) > 0 && sums(j).toDouble / cnts(j) > mean) h |= 1L << j
      j += 1
    }
    h
  }
}

/** array<string> tokens → sorted distinct array<bigint> n-gram hashes.
  * Empty array (not null, not an error) when the doc has < n tokens. */
case class ShingleHashSet(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.shingleHashSet(t.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.shingleHashSet($c, $n)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** array<bigint> element hashes → k-long MinHash signature. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.minhashSig(t.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.minhashSig($c, $k)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** string → sorted distinct winnowing fingerprints (array<bigint>).
  * k = byte k-gram width, w = winnowing window (both compile-time). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && w >= 1, s"winnow(k=$k, w=$w): both must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.winnowFingerprints(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.winnowFingerprints($c, $k, $w)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** string → per-position avalanched rolling-hash sequence (array<bigint>),
  * the sequence [[WinnowFingerprints]] selects from — the attestation-side
  * kernel for checking winnowing's window-coverage guarantee in-plan. */
case class RollingHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"rolling_hashes(k=$k): k must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rolling_hashes"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.rollingHashes(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.rollingHashes($c, $k)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** array<bigint> element hashes → 64-bit SimHash. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.simhash64(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.simhash64($c)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** binary payload → 64-bit byte-block average-hash
  * ([[SketchKernels.byteBlockHash]]). */
case class ByteBlockHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_byte_block_hash"

  override protected def nullSafeEval(t: Any): Any =
    SketchKernels.byteBlockHash(t.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.SketchKernels.byteBlockHash($c)")

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** array<double> vector → index (int) of the centroid with the highest dot
  * product. The centroid matrix is a plan-time constant baked into the
  * expression (broadcast with the codegen'd closure via a reference
  * object), so corpus-side IVF list assignment is one fused
  * nlist × dim multiply-add loop per row — no per-row struct/array
  * allocation, no interpreted dispatch. */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "centroids must be non-empty and rectangular")

  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  override protected def nullSafeEval(t: Any): Any =
    VectorKernels.nearestCentroid(t.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidMatrix", matrix, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.VectorKernels.nearestCentroid($c, $m)")
  }

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}

/** array<double> vector → the `k` centroid indices with the highest dot
  * products, descending (array<int>) — the IVF multi-assignment twin of
  * [[NearestCentroid]], with the same baked centroid matrix. Ranking by
  * raw dot equals ranking by cosine when the centroids are unit vectors
  * (the trainer's invariant): the row's own norm scales every dot
  * equally. */
case class NearestCentroids(child: Expression, cents: Seq[Seq[Double]],
    k: Int) extends UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "centroids must be non-empty and rectangular")
  require(k >= 1, s"nearestCentroids needs k >= 1, got $k")

  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_centroids"

  override protected def nullSafeEval(t: Any): Any =
    VectorKernels.nearestCentroids(t.asInstanceOf[ArrayData], matrix, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidMatrix", matrix, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.VectorKernels.nearestCentroids($c, $m, $k)")
  }

  override protected def withNewChildInternal(nc: Expression): Expression =
    copy(child = nc)
}
