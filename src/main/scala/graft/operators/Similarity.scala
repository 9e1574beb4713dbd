package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorKernels
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

import graft.functions.GraftFunctions

/** Bounded top-k accumulator over (score, id) pairs: keeps the k best by
  * (score desc, id asc). Registered as a UDAF, it plans as an
  * ObjectHashAggregate with map-side PARTIAL mode — every input partition
  * reduces to at most k entries per group BEFORE the shuffle, so the
  * exchange carries O(k · partitions) rows per group instead of every
  * scored candidate. This is the two-phase (per-partition heap + merge)
  * top-k that survives a 100 TB corpus; a `row_number() over (partition by
  * qid)` window would funnel all scored rows of a query into one task.
  *
  * Selection is by comparison only (no floating-point arithmetic), so the
  * survivors — and therefore the results — are bit-identical to the
  * window-ranked formulation, with the same deterministic (score desc,
  * id asc) tie-break.
  */
private[operators] class TopKAggregator[I: TypeTag](k: Int)(implicit ord: Ordering[I])
    extends Aggregator[(Double, I), List[(Double, I)], Seq[(Double, I)]] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  /** Score comparison via java.lang.Double.compare — a TOTAL order (NaN
    * sorts above +Inf, matching Spark's desc-sort NaN placement), so a NaN
    * score (e.g. a NaN vector component) ranks deterministically instead of
    * making insertion partition-order-dependent. (Zero-norm vectors never
    * reach the aggregator — scoring yields NULL and they are filtered.) */
  private def beats(a: (Double, I), b: (Double, I)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && ord.lt(a._2, b._2))
  }

  /** Insert into a (score desc, id asc)-sorted list capped at k — O(k),
    * with k small (10..100) this beats heap constant factors. */
  private def insert(buf: List[(Double, I)],
      e: (Double, I)): List[(Double, I)] = {
    if (buf.lengthCompare(k) >= 0 && !beats(e, buf.last)) buf
    else {
      val (pre, post) = buf.span(beats(_, e))
      (pre ::: e :: post).take(k)
    }
  }

  def zero: List[(Double, I)] = Nil
  def reduce(buf: List[(Double, I)], in: (Double, I)): List[(Double, I)] =
    insert(buf, in)
  def merge(a: List[(Double, I)], b: List[(Double, I)]): List[(Double, I)] =
    b.foldLeft(a)(insert)
  def finish(buf: List[(Double, I)]): Seq[(Double, I)] = buf
  def bufferEncoder: Encoder[List[(Double, I)]] =
    ExpressionEncoder[List[(Double, I)]]()
  def outputEncoder: Encoder[Seq[(Double, I)]] =
    ExpressionEncoder[Seq[(Double, I)]]()
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query set,
  *     score every candidate partition-locally, per-query top-k via window.
  *     No shuffle of the corpus; the only shuffle is the final per-query
  *     top-k (tiny). This is the correct baseline even at 100 TB when the
  *     query set is small: it's one scan.
  *   - [[lshTopK]]: random-hyperplane LSH — subcodes of sign-bits; a
  *     candidate must share at least one subcode with the query. The corpus
  *     is scored only inside matching buckets, trading exact recall for a
  *     bucket-joined plan that avoids scoring the full corpus per query.
  *
  * The inner product is [[graft.functions.DotProduct]] — a codegen'd native
  * expression. Norms are computed once per vector, not per pair; cosine =
  * dot / (norm_a · norm_b) keeps the arithmetic bit-identical to computing
  * both inline (sqrt once per vector is the same double), so results stay
  * oracle-comparable.
  */
object Similarity {

  /** Exact per-query top-k of `scored` (qid, cid, cos) via the two-phase
    * [[TopKAggregator]]. Output: (qid, cid, cos_sim rounded, rnk 1..k),
    * identical to ranking with a qid-partitioned window but with a bounded
    * shuffle (≤ k entries per qid per input partition).
    *
    * The candidate id keeps its source type: integral ids aggregate as long
    * and cast back (bit-identical, numeric tie-break); any other type
    * (string/uuid/…) aggregates as string with a lexicographic tie-break —
    * no id is ever null-collapsed by a forced long cast. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    def run[I: TypeTag : Ordering](df: DataFrame): DataFrame = {
      val topk = udaf(new TopKAggregator[I](k))
      df.groupBy("qid")
        .agg(topk(col("cos"), col("cid")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col._2").as("cid"),
          round(col("col._1"), 4).as("cos_sim"),
          (col("pos") + 1).cast("bigint").as("rnk"))
    }
    // Zero-norm vectors have no direction: their cosine is NULL (try_divide
    // at every scoring site — ANSI 0/0 would otherwise abort the query) and
    // they are excluded from the ranking rather than polluting it.
    val defined = scored.where(col("cos").isNotNull)
    defined.schema("cid").dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) =>
        run[Long](defined.withColumn("cid", col("cid").cast(LongType)))
          .withColumn("cid", col("cid").cast(t))
      case StringType => run[String](defined)
      case _ => run[String](defined.withColumn("cid", col("cid").cast(StringType)))
    }
  }

  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL (not an ANSI divide-by-zero error) when either vector is zero-norm. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Output: (qid, cid, cos_sim, rnk), rnk 1..k per qid. */
  def bruteTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("cid"),
        toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("cid"),
        try_divide(dot(col("qv"), col("cv")),
          col("qn") * col("cn")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** All pairs (a_id < b_id) with cosine ≥ threshold via a `id < id` theta
    * join — plans as a broadcast-nested-loop, so this is ONLY for bounded
    * candidate sets (post-LSH verification, small tables). For corpus-wide
    * exact pairs use [[cosinePairsBlocked]]. */
  def cosinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    e.as("x").join(e.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        try_divide(dot(col("x.v"), col("y.v")),
          col("x.nrm") * col("y.nrm")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
  }

  /** A vector payload of [[PairGrid]]: the doubles and their norm. */
  private[operators] case class Vec(v: Array[Double], nrm: Double)

  /** Cosine on the grid: [[VectorKernels.dot]] over the shorter length,
    * then the single-op divide by the norm product — the arithmetic of
    * [[cosinePairs]]. A zero norm gives NaN, which no threshold keeps. */
  private val cosineScore: PairGrid.Score[Vec] = (a, b) =>
    VectorKernels.dot(a.v, b.v) / (a.nrm * b.nrm)

  /** Exact all-pairs cosine ≥ threshold on the [[PairGrid]] (one group;
    * shape, orientation and bit-identity with [[cosinePairs]] are stated
    * there). The block count is `⌈n/targetBlockRows⌉` or the grid's
    * parallelism minimum, whichever is larger, so per-task memory stays
    * bounded as the corpus grows. Output: (a_id, b_id, cos_sim rounded to
    * 4), ids in their source type. */
  def cosinePairsBlocked(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      targetBlockRows: Int = 4096): DataFrame = {
    val e = emb.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val n = e.count()
    val numBlocks = math.max(
      PairGrid.minBlocks(emb.sparkSession.sparkContext.defaultParallelism),
      math.ceil(n.toDouble / targetBlockRows).toInt)
    PairGrid.pairs[Vec](
        e.select(lit(0L).as("grp"), col("id"), struct(col("v"), col("nrm")).as("p")),
        Map(0L -> numBlocks), threshold, "cos")(cosineScore)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (seeded — identical on
    * every executor and every run). */
  private def hyperplanes(dim: Int, n: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit subcodes: `groups` subcodes of `bitsPerGroup` hyperplane signs
    * each, as (group, code) structs. */
  private def subcodes(v: Column, planes: Seq[Seq[Double]], groups: Int,
      bitsPerGroup: Int): Column =
    array((0 until groups).map { g =>
      val code = (0 until bitsPerGroup).foldLeft(lit(0L)) { (acc, b) =>
        val plane = planes(g * bitsPerGroup + b)
        acc + when(dot(v, typedlit(plane)) > 0, lit(1L << b)).otherwise(lit(0L))
      }
      struct(lit(g).as("g"), code.as("code"))
    }: _*)

  /** Spherical k-means (Lloyd, cosine assignment) on an in-memory sample.
    * Training on a bounded sample is the standard IVF recipe: the sample
    * size is fixed regardless of corpus size, so quantizer training never
    * becomes the scale bottleneck — only the (distributed, codegen'd)
    * assignment pass touches the full corpus. Deterministic: seeded init
    * from hash-ordered rows, fixed iteration count. */
  private def trainCentroids(sample: Array[Array[Double]], nlistRequested: Int,
      maxIter: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty,
      "ivfTopK: training sample is empty — corpus has no vectors")
    // Effective list count is clamped to the sample size: fewer sample rows
    // than requested lists would index past the seeded centroids.
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(VectorKernels.dot(v, v))
      if (n == 0) v else v.map(_ / n)
    }
    // Train on the DISTINCT unit vectors (the trainPqCodebooks recipe),
    // for two reasons measured on dup-dense corpora (40-copy replication,
    // boilerplate-heavy web embeddings):
    //   - seeding from raw sample rows would pick near-identical
    //     centroids and collapse the effective list count to the handful
    //     of distinct vectors in the first nlist rows — turning the
    //     Σ|list|² pair-join into a near-full n² grid;
    //   - Lloyd iterations cost O(points × nlist × dim) on the DRIVER;
    //     over distinct points that is bounded by the true content
    //     diversity instead of the duplication factor (copies move a
    //     centroid's mean nowhere new anyway).
    // Every loop below reads the first `dim` elements of a point, so a
    // shorter vector is an error and a longer one trains on its prefix.
    val distinct = sample.map(normalize).map(_.toSeq).distinct.map { u =>
      require(u.length >= dim, s"centroid training: a sample vector of " +
        s"${u.length} elements is shorter than the first one's $dim")
      u.take(dim).toArray
    }
    val nlist = math.min(nlistRequested, distinct.length)
    // MAX-MIN (farthest-first) seeding over the distinct unit vectors —
    // deterministic (first distinct point, then argmin-of-max-dot with
    // lowest-index tie-break) and mass-blind like the rest of the
    // trainer. The previous take-first-nlist init could leave a NEW
    // dense region (drifted arrivals occupying an angular region no init
    // centroid starts inside) owned by a SINGLE Lloyd centroid forever —
    // plain Lloyd cannot split a cluster no second centroid starts near,
    // and the round-12 sem endurance arm measured post-rebuild imbalance
    // WORSE than pre-rebuild on exactly that shape. Farthest-first
    // subdivides by angular DIAMETER, so every occupied region gets
    // seeds before any region is subdivided twice. O(distinct·nlist·dim),
    // the cost of one extra Lloyd iteration.
    val seeds = new Array[Array[Double]](nlist)
    seeds(0) = distinct(0).clone
    val bestDot = new Array[Double](distinct.length)
    java.util.Arrays.fill(bestDot, Double.NegativeInfinity)
    var s = 0
    while (s + 1 < nlist) {
      var worst = 0; var worstDot = Double.PositiveInfinity
      var i = 0
      while (i < distinct.length) {
        val d = VectorKernels.dot(distinct(i), seeds(s))
        if (d > bestDot(i)) bestDot(i) = d
        if (bestDot(i) < worstDot) { worstDot = bestDot(i); worst = i }
        i += 1
      }
      s += 1
      seeds(s) = distinct(worst).clone
    }
    var cents = seeds

    /** One Lloyd pass: each point joins its nearest centroid, then each
      * centroid moves to its members' normalized sum. */
    def lloyd(): Unit = {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val cnt = new Array[Int](nlist)
      distinct.foreach { u =>
        val best = VectorKernels.nearestCentroid(u, cents)
        var j = 0
        while (j < dim) { sums(best)(j) += u(j); j += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(nlist) { i =>
        if (cnt(i) == 0) cents(i) // empty list keeps its centroid
        else normalize(sums(i))
      }
    }
    for (_ <- 0 until maxIter) lloyd()
    // BALANCE REFINEMENT (round 12) — engages ONLY when Lloyd leaves a
    // cluster holding > 4× the average distinct mass, so balanced corpora
    // train exactly as before. Two measured failure modes drove this
    // shape (sem endurance arm, BENCH_NOTES r12): (a) coverage-style
    // seeding gives a dense NEW angular region (~1000 distinct drifted
    // directions in one ~50° cone of a 64-dim sphere) a SINGLE seed —
    // spread corpora sit ~90° apart, so farthest-first keeps choosing
    // isolated points, and Lloyd can never split a cluster no second
    // centroid starts inside; (b) splitting and then re-running GLOBAL
    // Lloyd re-merges the cone's near-parallel sub-centroids (observed:
    // max distinct count oscillated 1018 → 255 → 1012 across rounds).
    // So each round bisects the heaviest cluster LOCALLY — a 2-means over
    // its own members only, seeded from the cluster's diameter pair
    // (farthest-from-mean member F, then the member farthest from F) —
    // reusing the lightest cluster's slot, with NO global re-Lloyd to
    // undo it. Deterministic and bounded; global assignment is always
    // argmax over the final centroids.
    def assignAll(): Array[Int] =
      distinct.map(VectorKernels.nearestCentroid(_, cents))
    var round = 0
    var go = nlist >= 2
    while (round < 16 && go) {
      val who = assignAll()
      val cnt = new Array[Int](nlist)
      who.foreach(c => cnt(c) += 1)
      val avg = distinct.length.toDouble / nlist
      val heavy = cnt.indexOf(cnt.max)
      if (cnt(heavy) <= math.max(2.0, 4.0 * avg)) go = false
      else {
        var light = if (heavy == 0) 1 else 0
        var i = 0
        while (i < nlist) {
          if (i != heavy && cnt(i) < cnt(light)) light = i
          i += 1
        }
        val members = (0 until distinct.length).filter(who(_) == heavy)
        // Diameter pair within the members: F = farthest from the
        // cluster mean (its current centroid), F2 = farthest from F.
        def farFrom(v: Array[Double]): Int = {
          var idx = members.head; var lo = Double.PositiveInfinity
          members.foreach { m =>
            val d = VectorKernels.dot(distinct(m), v)
            if (d < lo) { lo = d; idx = m }
          }
          idx
        }
        var a = distinct(farFrom(cents(heavy))).clone
        var b = distinct(farFrom(a)).clone
        // Local 2-means over the members only (3 passes).
        var k = 0
        while (k < 3) {
          val sa = new Array[Double](dim); val sb = new Array[Double](dim)
          var na = 0; var nb = 0
          members.foreach { m =>
            val u = distinct(m)
            if (VectorKernels.dot(u, a) >= VectorKernels.dot(u, b)) {
              var t = 0; while (t < dim) { sa(t) += u(t); t += 1 }; na += 1
            } else {
              var t = 0; while (t < dim) { sb(t) += u(t); t += 1 }; nb += 1
            }
          }
          if (na > 0) a = normalize(sa)
          if (nb > 0) b = normalize(sb)
          k += 1
        }
        cents(heavy) = a
        cents(light) = b
        round += 1
      }
    }
    cents.map(_.toSeq).toSeq
  }

  /** IVF approximate cosine top-k (the faiss `IVFFlat` layout, Spark-first):
    * a spherical-k-means coarse quantizer partitions the corpus into `nlist`
    * inverted lists; each query exactly scores only its `nprobe`
    * nearest-centroid lists. Expected scored fraction ≈ nprobe/nlist of the
    * corpus per query — at 100 TB this is the difference between one scan
    * per query batch and nlist/nprobe× less compute, while the corpus-side
    * plan stays a single scan + one broadcast-hash join on `list` (no
    * corpus shuffle; list assignment is a codegen'd argmin over `nlist`
    * native dot products). Quantizer trains on a driver-side sample capped
    * at `trainCap` rows (scale-independent, faiss practice). */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 4,
      maxIter: Int = 8,
      trainCap: Int = 20000): DataFrame =
    ivfProbe(buildIvfIndex(corpus, idCol, vecCol, nlist, maxIter, trainCap),
      queries, idCol, vecCol, k, nprobe)

  /** Trained IVF state: the spherical-k-means centroids plus the corpus
    * assigned to inverted lists ((cid, cv, cn, list)). Build once, probe
    * per query batch ([[ivfProbe]]); persist with [[saveIvfIndex]]. */
  final case class IvfIndex private[operators] (
      centroids: Seq[Seq[Double]], assigned: DataFrame)

  /** Uniform bounded training sample without a corpus-wide TakeOrdered: a
    * seeded Bernoulli sample sized from the (metadata-cheap) row count,
    * capped at `trainCap`. Deterministic for a fixed input layout;
    * quantizer quality only needs uniformity, not a specific draw. */
  private def sampleVecs(c: DataFrame, total: Long,
      trainCap: Int): Array[Array[Double]] = {
    val fraction = if (total == 0) 1.0
      else math.min(1.0, trainCap * 1.2 / total)
    val sampled =
      (if (fraction < 1.0) c.sample(withReplacement = false, fraction, seed = 42L)
       else c)
      .select(col("cv")).collect()
    sampled.take(trainCap).map(_.getSeq[Double](0).toArray)
  }

  /** Shared quantizer-training step for every IVF-family operator: derive
    * the list count (the faiss √n rule when `nlist <= 0`, clamped so the
    * quantizer stays trainable from the capped sample) and train on the
    * bounded seeded sample. `c` must carry the vectors as `cv`. */
  private[operators] def trainQuantizer(c: DataFrame, nlist: Int, maxIter: Int,
      trainCap: Int, knownTotal: Long = -1L): Seq[Seq[Double]] = {
    val total = if (knownTotal >= 0L) knownTotal else c.count()
    val lists =
      if (nlist > 0) nlist
      else math.max(16, math.min(math.sqrt(total.toDouble).toInt,
        trainCap / 5))
    trainCentroids(sampleVecs(c, total, trainCap), lists, maxIter)
  }

  /** Train the coarse quantizer and assign every corpus vector to its
    * inverted list — the one-off batch half of IVF. The default
    * `nlist = 0` derives the list count via the faiss √n rule of thumb
    * (floored at 16), so list sizes stay ~√n as the corpus grows instead
    * of a fixed default silently degrading toward a full scan; pass an
    * explicit positive nlist to pin it. Assignment is a fused codegen'd
    * argmax over the baked centroid matrix (centroids are unit vectors,
    * so the un-normalized dot picks the same list as the cosine). */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 0,
      maxIter: Int = 8,
      trainCap: Int = 20000): IvfIndex = {
    val c = corpusShape(corpus, idCol, vecCol)
    val cents = trainQuantizer(c, nlist, maxIter, trainCap)
    IvfIndex(cents, c.withColumn("list",
      GraftFunctions.nearestCentroid(col("cv"), cents)))
  }

  /** Probe a (built or loaded) [[IvfIndex]]: each query exactly scores only
    * its `nprobe` nearest-centroid lists. The probe-list ids are collected
    * (bounded by nlist) and pushed as a corpus-side filter BEFORE the
    * broadcast join — on an index loaded from [[loadIvfIndex]]'s
    * list-partitioned layout that predicate is partition PRUNING: only the
    * probed lists' directories are read, ~nprobe/nlist of the corpus, which
    * is the entire point of IVF at 100 TB. */
  def ivfProbe(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("list", explode(
        GraftFunctions.nearestCentroids(col("qv"), index.centroids, nprobe)))
    val probeLists = q.select("list").distinct().collect().map(_.getInt(0))
    val cand = index.assigned
      .where(col("list").isin(probeLists.toIndexedSeq.map(Int.box): _*))
    val scored =
      if (!cand.columns.contains("repid"))
        cand.join(broadcast(q), Seq("list"))
          .select(col("qid"), col("cid"),
            try_divide(dot(col("qv"), col("cv")),
              col("qn") * col("cn")).as("cos"))
      else {
        // Collapsed artifact: the dim-wide dot runs once per DISTINCT
        // vector (rep rows), then the score fans out to every twin
        // through a narrow (list, repid) join — all stored ids still
        // compete for the top-k, at distinct-size distance cost.
        val repScores = cand.where(col("cid") === col("repid"))
          .join(broadcast(q), Seq("list"))
          .select(col("qid"), col("list"), col("repid"),
            try_divide(dot(col("qv"), col("cv")),
              col("qn") * col("cn")).as("cos"))
        cand.select(col("list"), col("repid"), col("cid"))
          .join(repScores, Seq("list", "repid"))
          .select(col("qid"), col("cid"), col("cos"))
      }
    topKPerQuery(scored, k)
  }

  // ───────────── saved-index layout: compaction generations ───────────────
  // A saved index's bulk artifact ("lists" for IVF, "codes" for PQ) starts
  // life in `$path/<base>` and, once appends have fragmented it, can be
  // rewritten by compactIvfIndex/compactPqIndex into `$path/<base>_g<N>`.
  // Readers resolve the NEWEST COMMITTED generation (Spark's _SUCCESS is
  // the commit marker — a crashed compaction's partial directory is
  // invisible) and fall back to the original dir; each compaction keeps
  // the directory it read from for one more cycle (in-flight reader
  // grace, the DedupLoop layer-release discipline applied to files) and
  // prunes everything older.

  private def hfs(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed compaction generations of `base` under `path`, newest
    * first. */
  private def committedArtifactGens(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String): Seq[Int] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches(base + "_g\\d+") =>
        n.drop(base.length + 2).toInt }
      .filter(g => fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/${base}_g$g/_SUCCESS")))
      .sorted(Ordering[Int].reverse)
  }

  /** The directory `base` currently lives in. */
  private def currentArtifactDir(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String): String =
    committedArtifactGens(spark, path, base).headOption
      .map(g => s"$path/${base}_g$g").getOrElse(s"$path/$base")

  /** Delete every `base` directory (original and generations, committed or
    * partial) except `keep` — the post-commit prune step. */
  private def pruneArtifactDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String, keep: Set[String]): Unit = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => n == base || n.matches(base + "_g\\d+"))
        .filterNot(keep)
        .foreach(n => fs.delete(
          new org.apache.hadoop.fs.Path(s"$path/$n"), true))
  }

  /** Rewrite `base`'s current directory into the next committed generation
    * via `rewrite(sourceDir, targetDir)`, keep the source for one cycle of
    * reader grace, prune everything older, and hand back the new current
    * dir. */
  private def compactArtifact(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String)(
      rewrite: (String, String) => Unit): String = {
    val cur = currentArtifactDir(spark, path, base)
    val next = committedArtifactGens(spark, path, base).headOption
      .map(_ + 1).getOrElse(0)
    val target = s"$path/${base}_g$next"
    val fs = hfs(spark, path)
    // A crashed earlier attempt may have left a partial, uncommitted target.
    if (fs.exists(new org.apache.hadoop.fs.Path(target)))
      fs.delete(new org.apache.hadoop.fs.Path(target), true)
    rewrite(cur, target)
    pruneArtifactDirs(spark, path, base,
      keep = Set(cur, target).map(_.substring(path.length + 1)))
    target
  }

  // ───────────── saved-index deletes: tombstones ──────────────────────────
  // Takedown/contamination removal from a SERVING index without rewriting
  // it: a delete appends a small parquet delta of ids to `$path/tombstones`
  // (append-grade, like the index appends themselves), every load anti-joins
  // the live tombstones over the bulk artifact (AQE turns the takedown-sized
  // right side into a broadcast at runtime — no hint, so a pathological
  // mass-delete degrades to a shuffle join instead of an OOM), and the next
  // compaction applies them PHYSICALLY while it rewrites the artifact
  // anyway. Applied tombstone files then live one more compaction cycle —
  // the same in-flight-reader grace the directories get, because a reader
  // that loaded the pre-compaction generation holds lazy references to the
  // tombstone files it masked with — and the cycle after that retires them.
  // Consequence (documented contract): a tombstone masks its id INCLUDING a
  // re-appended copy until it is physically retired; re-adding a deleted id
  // is a two-compactions-later event, not a fast path.

  private def tombstoneDir(path: String): String = s"$path/tombstones"

  /** Live tombstone data files: committed parquet parts written by the
    * append-mode batch path (top-level files; manifests and markers are
    * `_`-prefixed and excluded, matching Spark's own hidden-file
    * convention), plus the parts inside committed KEYED tombstone
    * directories (`e_<key>/`, `_SUCCESS`-marked) that
    * [[writeKeyedTombstone]] lays down for exactly-once streaming
    * takedowns. */
  private def tombstoneFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(tombstoneDir(path))
    def parts(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
    if (!fs.exists(dir)) Nil
    else parts(dir) ++ fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("e_") &&
        fs.exists(new org.apache.hadoop.fs.Path(s"${s.getPath}/_SUCCESS")))
      .flatMap(s => parts(s.getPath))
  }

  /** Keyed tombstone write — the IDEMPOTENT takedown leg for streaming
    * deletes ([[graft.streaming.TakedownStream]]): the delete lands in a
    * deterministic `e_<key>` directory via overwrite, so a crash-window
    * replay of the same takedown batch rewrites the SAME tombstone
    * instead of appending a second one at a later logical position —
    * which could re-delete an id legitimately re-appended between the
    * first attempt and the replay. Same mask/compaction/retirement
    * lifecycle as the batch append path ([[tombstoneFiles]] lists both). */
  private[graft] def writeKeyedTombstone(path: String, ids: DataFrame,
      idCol: String, key: String): Unit =
    ids.select(col(idCol).as("cid")).distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"${tombstoneDir(path)}/e_$key")

  /** Generation-DATA load through the layout-aware engine reader
    * ([[graft.sources.Sink.readOwn]], round 16): leaves resolve through
    * any compaction manifests, and every part-file's footer is validated
    * in a names+footers probe — a part the store truncated after commit
    * is COUNTED and excluded (logged), never a task failure and never a
    * silent skip. Control artifacts (centroids, codebooks, _quantizer)
    * stay plain fail-loud reads: an index cannot answer without them, so
    * counting them out would be wrong, not resilient. */
  private def loadArtifact(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.sources.Sink.readOwn(spark, Seq(dir))

  /** Anti-join `df` (keyed `cid`) against the given tombstone files.
    * Tombstones load with the footer quarantine FORCED OFF (integrity
    * side of [[graft.sources.Sink.readOwn]]'s policy line): a corrupt
    * tombstone part counted-and-excluded would silently UN-ERASE
    * taken-down ids — and since compaction/rebuild fold tombstones into
    * the rewritten generation through this same path, the un-erasure
    * would become permanent. A corrupt tombstone must fail the read. */
  private def maskByFiles(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, files: Seq[String]): DataFrame =
    if (files.isEmpty) df
    else df.join(
      graft.sources.Sink.readOwn(spark, files, quarantine = false)
        .select("cid").distinct(), Seq("cid"), "left_anti")

  private def writeTombstones(path: String, ids: DataFrame,
      idCol: String): Unit =
    ids.select(col(idCol).as("cid")).distinct()
      .write.mode("append").parquet(tombstoneDir(path))

  /** Tombstone files the last compaction already FOLDED into the current
    * generation (the `_applied` manifest) — retained for reader grace but
    * no threat to the stored representatives, unlike fresh unapplied
    * deletes (which may have masked a group's rep). */
  private def appliedTombstoneFiles(
      spark: org.apache.spark.sql.SparkSession, path: String): Set[String] = {
    val fs = hfs(spark, path)
    val manifest = new org.apache.hadoop.fs.Path(
      s"${tombstoneDir(path)}/_applied")
    if (!fs.exists(manifest)) Set.empty
    else {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Post-compaction tombstone bookkeeping: retire the files the PREVIOUS
    * compaction applied (their one-cycle reader grace has expired), then
    * record `applied` — the snapshot this compaction just folded into the
    * new generation — in the `_applied` manifest for the next cycle. A crash
    * anywhere in here only delays retirement: tombstones re-apply
    * idempotently (the anti join of an absent id is a no-op). */
  private def retireAppliedTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      applied: Seq[String]): Unit = {
    val fs = hfs(spark, path)
    val manifest = new org.apache.hadoop.fs.Path(
      s"${tombstoneDir(path)}/_applied")
    var retired = Set.empty[String]
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val prev = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      retired = prev.filter(_.nonEmpty).toSet
      retired.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        fs.delete(p, false)
        // Keyed tombstones live one-part-per-`e_<key>` directory; once the
        // last part is retired, drop the directory too — otherwise empty
        // `_SUCCESS`-marked dirs accumulate for the takedown stream's
        // lifetime and are re-listed on every index load and compaction.
        val parent = p.getParent
        if (parent != null && parent.getName.startsWith("e_") &&
            fs.exists(parent) &&
            !fs.listStatus(parent).exists(s => s.isFile &&
              s.getPath.getName.endsWith(".parquet") &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith(".")))
          fs.delete(parent, true): Unit
      }
      fs.delete(manifest, false)
    }
    // A file this compaction applied may ALSO be the one it just retired
    // (applied a cycle ago, still live in the snapshot): record only files
    // that still exist, so the manifest never points at dead paths.
    val stillLive = applied.filterNot(retired)
    if (stillLive.nonEmpty) {
      val out = fs.create(manifest, true)
      try out.write((stillLive.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Clear every tombstone (data files and manifest) — the fresh-save reset:
    * a new index at this path starts with nothing masked. */
  private def clearTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = hfs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(tombstoneDir(path))
    if (fs.exists(dir)) fs.delete(dir, true): Unit
  }

  /** Tombstone-delete ids from a saved IVF index: appends a delete delta and
    * returns the reloaded index with the ids masked. The lists on disk are
    * untouched — the next [[compactIvfIndex]] applies the delete physically.
    * Probe partition pruning survives the mask (the list filter pushes
    * through the anti join's left side; plan-asserted in OperatorsSpec). */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): IvfIndex = {
    writeTombstones(path, ids, idCol)
    loadIvfIndex(spark, path)
  }

  /** [[deleteFromIvfIndex]] for a saved PQ index: the delete delta masks
    * codes at load; the next [[compactPqIndex]] drops them physically. */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): PqIndex = {
    writeTombstones(path, ids, idCol)
    loadPqIndex(spark, path)
  }

  /** Persist an [[IvfIndex]]: centroids as a small frame, the inverted
    * lists hive-partitioned BY LIST — the directory layout that turns
    * [[ivfProbe]]'s probe-list filter into partition pruning on reload.
    * A fresh save RESETS the artifact: any compaction generations a prior
    * index at this path accumulated are cleared once the new lists are
    * down (overwrite-grade durability, same as the write itself). */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("i", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    graft.sources.Sink.partitioned(index.assigned, s"$path/lists", "list")
    pruneArtifactDirs(spark, path, "lists", keep = Set("lists"))
    clearTombstones(spark, path)
  }

  // ───────────── identical-vector collapse (serving indexes) ──────────────
  // A dup-dense serving corpus (re-posted embeddings) stores each copy as
  // a row, and a probe pays the expensive distance computation per COPY —
  // distinct-size work inflated by the duplication factor. Compaction
  // regroups each identical-vector group under a representative (`repid` =
  // min live cid; for IVF also `vh` = xxhash64(cv), a narrow group key —
  // grouping always includes the full vector/codes, so a 64-bit collision
  // can never merge distinct vectors): the probe computes the distance
  // ONCE per distinct vector (rep rows) and fans the score out to the
  // twins through a narrow join, so every stored id still reaches the
  // top-k — the collapse is on SCAN COST, not on the serving result
  // contract (the sem dedup family's round-13 collapse, re-derived for
  // top-k semantics: sem only needs one witness per content; serving
  // expands the score back to all ids before selection).
  //
  // Lifecycle (the sem sawtooth): fresh builds and appends land SELF-REP
  // (repid = cid — the probe over-scans, never under-scans); while
  // tombstones are LIVE, load resets to self-rep too (a tombstoned
  // representative must not silence its surviving twins); the next
  // compaction applies deletes physically and regroups, so the min
  // SURVIVING id becomes the rep — that regroup IS the takedown
  // rep-promotion. Dup-free artifacts keep the legacy schema (no
  // vh/repid) and the probe keeps its legacy single-pass plan — the
  // collapse costs nothing until duplicates actually exist.

  /** Recompute the per-(list, vector) representatives of an IVF lists
    * frame: `repid` = min cid of each identical-vector group within its
    * list. */
  private[operators] def collapseIvfReps(assigned: DataFrame): DataFrame = {
    val withVh = assigned.withColumn("vh", xxhash64(col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("list"), col("vh"), col("cv"))
    withVh.withColumn("repid", min(col("cid")).over(w))
  }

  /** Recompute the representatives of a PQ codes frame: ADC scores depend
    * only on (cn, codes), so that pair is the score-identity group — two
    * rows sharing it are indistinguishable to the approximate stage, and
    * the exact rerank re-scores per cid afterwards anyway. */
  private[operators] def collapsePqReps(codes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cn"), col("codes"))
    codes.withColumn("repid", min(col("cid")).over(w))
  }

  /** Does any identical-vector/identical-code group hold more than one
    * row? Decides whether a compaction writes the collapsed schema at
    * all — dup-free artifacts stay on the legacy schema and plan. */
  private def hasDupGroups(df: DataFrame, keys: Seq[String]): Boolean =
    !df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).isEmpty

  /** Self-rep view: every row its own representative (`repid` = cid) —
    * correct under any tombstone state (over-scan, never under-scan). */
  private def selfRep(df: DataFrame): DataFrame =
    if (df.columns.contains("repid")) df.withColumn("repid", col("cid"))
    else df

  /** Match `rows` to the schema of an artifact `like` so an append/extend
    * never mixes schemas inside one generation: collapsed target → fresh
    * rows land self-rep; legacy target → rows stay legacy. */
  private def matchRepSchema(rows: DataFrame, like: DataFrame): DataFrame =
    if (!like.columns.contains("repid")) rows
    else {
      val vh = if (like.columns.contains("vh"))
        rows.withColumn("vh", xxhash64(col("cv"))) else rows
      vh.withColumn("repid", col("cid"))
    }

  /** Rep rows of a possibly-collapsed frame — what a probe scores and
    * what the imbalance signals read (the probed cost, not the stored
    * row count). */
  private def repRows(df: DataFrame): DataFrame =
    if (df.columns.contains("repid")) df.where(col("cid") === col("repid"))
    else df

  /** The imbalance-signal frame for a masked artifact whose tombstones may
    * be UNAPPLIED: an unapplied delete can have masked a duplicate group's
    * REPRESENTATIVE, in which case `repRows` anti-joins the whole group
    * away (the twins fail cid === repid) and the signal under-prices a
    * probe that — under the load-time self-rep fallback — still scans
    * every surviving twin. Mirror the fallback's rule for the signal:
    * count one row per surviving distinct-key group (`rep counting over
    * selfRep`, computed as a distinct over the group keys), so the
    * rebuild decision prices the post-compaction probed cost exactly.
    * With no unapplied tombstones the stored reps are authoritative. */
  private def signalRows(df: DataFrame, unapplied: Boolean,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    if (unapplied && df.columns.contains("repid"))
      df.select(keys: _*).distinct()
    else repRows(df)

  /** Load an [[IvfIndex]] written by [[saveIvfIndex]] (and possibly
    * compacted since). No retraining, no re-assignment: probing resumes
    * against the newest committed partitioned-lists generation. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    val listsDir = currentArtifactDir(spark, path, "lists")
    // A rebuilt generation carries its own retrained quantizer
    // ([[rebuildIvfIndex]] — committed atomically with the lists);
    // pre-rebuild generations fall back to the build-time centroids.
    val centsDir =
      if (hfs(spark, path).exists(
          new org.apache.hadoop.fs.Path(s"$listsDir/_quantizer")))
        s"$listsDir/_quantizer"
      else s"$path/centroids"
    val cents = spark.read.parquet(centsDir).orderBy("i")
      .select("v").collect().map(_.getSeq[Double](0)).toSeq
    val tombs = tombstoneFiles(spark, path)
    val masked = maskByFiles(spark, loadArtifact(spark, listsDir), tombs)
    // UNAPPLIED tombstones may have masked a group's representative —
    // fall back to self-rep until the next compaction promotes the min
    // surviving twin physically. Applied-but-retained files (reader
    // grace) were already folded into this generation's reps.
    val unapplied = tombs.filterNot(appliedTombstoneFiles(spark, path))
    IvfIndex(cents, if (unapplied.nonEmpty) selfRep(masked) else masked)
  }

  /** LIST-IMBALANCE probe for the frozen-quantizer families — the rebuild
    * signal the freeze contract was missing (the nd family's
    * [[graft.operators.Dedup.ndRarityDrift]] applied to centroids): every
    * extend/append assigns arrivals through centroids trained on the
    * BOOTSTRAP distribution, so sustained drift concentrates new vectors
    * into few lists — probe cost degrades toward a scan of those lists
    * (never wrong answers; drift costs efficiency, not correctness).
    * Returns max/mean list population over an assigned frame (one
    * nlist-row aggregation — compaction-cadence cheap); 0.0 when empty.
    * Compare against [[IvfImbalanceRebuildThreshold]] at every
    * compaction. */
  /** Max/mean inverted-list population — the probe-cost skew signal the
    * rebuild loops read at every compaction.
    *
    * Callers pass REP rows for a collapsed artifact ([[collapseIvfReps]];
    * [[compactIvfIndex]] does): a serving index must return every stored
    * id, so exact copies stay as rows, but the probe only SCANS one
    * representative per distinct vector and fans the score out — the
    * probed cost this signal should price is rep-row mass, while raw-row
    * mass only measures takedown/duplication state a retrain could never
    * spread anyway (one vector's copies always land in one list). */
  def listImbalance(assigned: DataFrame): Double = {
    val r = assigned.groupBy("list").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("mean"))
      .head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Default [[listImbalance]] bar: a fresh √n-list build on clustered
    * real embeddings lands ~2-4× (k-means equalizes mass, not counts);
    * past 8× the hottest list carries an order of magnitude more probe
    * work than the design point — the table-statistics-refresh
    * calibration, like [[Dedup.NdRarityDriftRebuildThreshold]]. */
  val IvfImbalanceRebuildThreshold = 8.0

  /** Conf override of [[IvfImbalanceRebuildThreshold]] — the rebuild bar
    * is a per-corpus calibration (how much probe-cost skew an operator
    * tolerates before paying a retrain at the next compaction). */
  val ImbalanceRebuildBarKey = "spark.graft.ann.imbalanceRebuildBar"

  def imbalanceRebuildBar(spark: org.apache.spark.sql.SparkSession): Double =
    spark.conf.get(ImbalanceRebuildBarKey,
      IvfImbalanceRebuildThreshold.toString).toDouble

  /** REBUILD a saved IVF index's quantizer from its OWN stored lists —
    * the ACTION [[listImbalance]]'s signal calls for, without re-reading
    * a single corpus vector from the source table (the lists store full
    * vectors, so retraining and re-assignment derive from the artifact
    * alone). Retrains on the masked live rows (√n list count re-derived
    * from the CURRENT size — an index that grew 100× gets 10× the lists),
    * re-assigns every row through the new centroids, and commits lists +
    * quantizer as ONE generation: the retrained centroids live at
    * `<gen>/_quantizer` (underscore-prefixed — invisible to the lists
    * reader), written BEFORE the lists land so the generation's _SUCCESS
    * commits both atomically; a crash anywhere leaves the previous
    * generation + `$path/centroids` authoritative. Tombstones snapshot-
    * fold exactly like [[compactIvfIndex]]. Returns the reloaded index. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, nlist: Int = 0, maxIter: Int = 8,
      trainCap: Int = 20000): IvfIndex = {
    import spark.implicits._
    val tombs = tombstoneFiles(spark, path)
    val live = maskByFiles(spark,
      loadArtifact(spark, currentArtifactDir(spark, path, "lists")), tombs)
      .select(col("cid"), col("cv"), col("cn"))
    val cents = trainQuantizer(live, nlist, maxIter, trainCap)
    compactArtifact(spark, path, "lists") { (cur, target) =>
      cents.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("i", "v").coalesce(1)
        .write.parquet(s"$target/_quantizer")
      val reassigned = maskByFiles(spark, loadArtifact(spark, cur), tombs)
        .drop("list", "vh", "repid")
        .withColumn("list",
          GraftFunctions.nearestCentroid(col("cv"), cents))
      // Re-derive the identical-vector reps under the NEW list assignment
      // (list is part of the group key); dup-free stays legacy.
      val rows =
        if (hasDupGroups(reassigned.withColumn("vh", xxhash64(col("cv"))),
            Seq("list", "vh", "cv")))
          collapseIvfReps(reassigned)
        else reassigned
      rows.repartition(col("list"))
        .write.mode("append").partitionBy("list").parquet(target)
    }
    retireAppliedTombstones(spark, path, tombs)
    loadIvfIndex(spark, path)
  }

  /** Generation-merge a saved IVF index's lists: [[appendIvfIndex]] grows
    * part-files inside the list directories without bound (every appended
    * micro-batch adds one file per touched list; after 10k batches a probe
    * opens 10k files per pruned partition — file-open cost, not data,
    * becomes the probe bottleneck). Compaction rewrites the current lists
    * into a fresh committed generation with ONE file per list (the
    * `repartition(list)` shuffle routes each list to a single writer
    * task), keeps the source directory for one cycle of in-flight reader
    * grace, and prunes older generations. Probe results are identical —
    * same rows, same hive layout, same partition pruning — and appends
    * keep landing in the new generation. Returns the reloaded index. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, autoRebuild: Boolean = true): IvfIndex = {
    // DRIFT CHECK at the compaction point (round 12, the nd pattern
    // applied to the frozen quantizer): list imbalance is measured on the
    // live masked rows — the same frame the rewrite is about to scan — and
    // past the bar the compaction ESCALATES to a quantizer rebuild, which
    // is itself a generation-committed compaction (same durability, same
    // reader grace), so the signal gets its action at the exact point the
    // artifact is being rewritten anyway.
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val tombs0 = tombstoneFiles(spark, path)
    val bar = imbalanceRebuildBar(spark)
    // Imbalance is read over REP rows — the probed cost. Raw rows include
    // exact copies a collapse already took out of every probe's scan, and
    // a retrain could never spread copies of one vector anyway (the sem
    // family's lesson: rep imbalance is the signal the rebuild decision
    // can act on, raw imbalance only measures takedown state). Under
    // UNAPPLIED tombstones the stored reps may themselves be masked —
    // signalRows switches to distinct-group counting over the survivors
    // (loadIvfIndex's self-rep fallback, applied to the signal) so a
    // masked representative never hides its twins from the read.
    val unapplied0 =
      tombs0.filterNot(appliedTombstoneFiles(spark, path)).nonEmpty
    val imb = listImbalance(signalRows(maskByFiles(spark,
      loadArtifact(spark, currentArtifactDir(spark, path, "lists")), tombs0),
      unapplied0, Seq(col("list"), col("cv"))))
    if (imb > bar && autoRebuild) {
      log.warn(f"compactIvfIndex: list imbalance $imb%.1f exceeds " +
        f"$bar%.1f — escalating this compaction " +
        "to a quantizer rebuild (retrain + reassign from the stored " +
        "lists; rebuildIvfIndex).")
      return rebuildIvfIndex(spark, path)
    }
    log.info(f"compactIvfIndex: list imbalance $imb%.1f " +
      f"(rebuild bar $bar%.1f).")
    // Snapshot the live tombstones up front: the rewrite folds exactly this
    // set into the new generation, and retirement bookkeeping records
    // exactly this set — deletes appended DURING the rewrite stay live for
    // the next cycle.
    val tombs = tombstoneFiles(spark, path)
    compactArtifact(spark, path, "lists") { (cur, target) =>
      // A rebuilt generation's quantizer travels with its lists: copy it
      // forward FIRST so the generation's _SUCCESS commits both (a plain
      // compaction after a rebuild must not resurrect the stale
      // build-time centroids at $path/centroids).
      if (hfs(spark, path).exists(
          new org.apache.hadoop.fs.Path(s"$cur/_quantizer")))
        spark.read.parquet(s"$cur/_quantizer").coalesce(1)
          .write.parquet(s"$target/_quantizer")
      val live = maskByFiles(spark, loadArtifact(spark, cur), tombs)
        .drop("vh", "repid")
      // Identical-vector collapse over the post-delete survivors: min
      // surviving cid becomes each group's rep (the takedown promotion);
      // dup-free survivors keep the legacy schema and probe plan.
      val rows =
        if (hasDupGroups(live.withColumn("vh", xxhash64(col("cv"))),
            Seq("list", "vh", "cv")))
          collapseIvfReps(live)
        else live
      rows.repartition(col("list"))
        .write.mode("append").partitionBy("list").parquet(target)
    }
    retireAppliedTombstones(spark, path, tombs)
    loadIvfIndex(spark, path)
  }

  /** The shared (cid, cv, cn) corpus projection every index build and
    * extension uses — ONE place for the id/vector/norm shape, so the
    * in-memory extend and on-disk append paths can never diverge. */
  private def corpusShape(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vecs.select(col(idCol).as("cid"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))

  /** [[corpusShape]] + frozen-quantizer list assignment. */
  private def assignToLists(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpusShape(vecs, idCol, vecCol).withColumn("list",
      GraftFunctions.nearestCentroid(col("cv"), centroids))

  /** Fold new vectors into an [[IvfIndex]] without retraining — faiss
    * `add()` semantics: the quantizer is FROZEN (centroids unchanged, new
    * vectors assigned through the same codegen'd argmax) and the lists
    * grow. The right tool for arrivals drawn from the indexed
    * distribution; sustained drift deserves a rebuild, which is why the
    * centroids deliberately never move here. */
  def extendIvfIndex(index: IvfIndex, newVecs: DataFrame, idCol: String,
      vecCol: String): IvfIndex =
    index.copy(assigned = index.assigned.unionByName(matchRepSchema(
      assignToLists(newVecs, idCol, vecCol, index.centroids),
      like = index.assigned)))

  /** [[extendIvfIndex]] straight onto a saved index's files: assign the new
    * vectors through the stored centroids and APPEND them into the
    * hive-partitioned list layout — only the touched lists' directories
    * gain part-files; nothing existing is rewritten, and a concurrent
    * reader keeps partition-pruning correctly. Durability is
    * append-grade, not WAL-grade: a crash mid-append can leave a partial
    * batch — re-run idempotency is the caller's contract (dedup by id at
    * probe time or re-append the full batch after `cid`-anti-joining the
    * stored lists). Returns the loaded post-append index. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    val idx = loadIvfIndex(spark, path)
    val listsDir = currentArtifactDir(spark, path, "lists")
    // Arrivals land SELF-REP when the generation is collapsed (never a
    // schema mix inside one artifact); the next compaction folds them
    // into their identical-vector groups.
    matchRepSchema(assignToLists(newVecs, idCol, vecCol, idx.centroids),
        like = idx.assigned)
      .write.mode("append").partitionBy("list").parquet(listsDir)
    loadIvfIndex(spark, path)
  }

  /** Approximate embedding near-dup PAIRS at corpus scale — the production
    * escalation of the exact blocked grid ([[cosinePairsBlocked]], which
    * scores ALL B(B+1)/2 block pairs): an IVF coarse quantizer buckets the
    * corpus, each vector is MULTI-assigned to its `nprobe` nearest lists,
    * candidates are same-list pairs only, and every candidate is verified
    * with the exact cosine — so precision is exact (the output is a SUBSET
    * of the exact operator's pairs, spec-asserted) and only recall is
    * approximate. Expected work drops from n²/2 to ~Σ|list|² (an
    * nlist-fold reduction on balanced lists); the miss mode is a pair
    * whose assignment sets don't intersect, which multi-assignment
    * (`nprobe` ≥ 2, the standard mitigation) makes rare for genuinely
    * close vectors — near-identical embeddings rank their nearest lists
    * near-identically. Scoring happens INSIDE the list join and dedups on
    * the (a, b, cos) scalars ([[lshTopK]]'s trick), so the exchange never
    * carries vectors. Output matches [[cosinePairsBlocked]]:
    * (a_id, b_id, cos_sim rounded to 4), a_id < b_id. */
  def ivfCosinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      // nlist MUST grow with the corpus here (√n default) — intra-list work
      // is Σ|list|², so a fixed list count degrades toward the full n²/2
      // grid as n grows (measured: 16 lists @80k vectors was SLOWER than
      // the exact grid; √n lists is what delivers the nlist-fold win).
      nlist: Int = 0,
      nprobe: Int = 4,
      maxIter: Int = 8,
      trainCap: Int = 20000): DataFrame = {
    val c = emb.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val total = c.count()
    // nlist = 1 (the exact-reference arm of d15b / the nlist=1 ≡ exact
    // spec): a single list means EVERY vector lands in list 0 no matter
    // what the centroid is — training it (a trainCap-sized sample collect
    // + the kmeans rounds) and running the nearest-centroid kernel are
    // pure overhead, skipped (round 18). Identical assignment, pairs and
    // cosines; the multi-list path is untouched.
    val assigned =
      if (nlist == 1) c.where(col("cn") > 0).withColumn("list", lit(0))
      else {
        val cents = trainQuantizer(c, nlist, maxIter, trainCap,
          knownTotal = total)
        // Corpus-side multi-assignment is the per-row hot loop: one fused
        // codegen'd top-nprobe kernel (ranking by raw dot == cosine
        // ranking against unit centroids), not an nlist-struct array +
        // sort per row.
        c.where(col("cn") > 0).withColumn("list",
          explode(GraftFunctions.nearestCentroids(col("cv"), cents, nprobe)))
      }
    // Persisted because BOTH self-join sides read it (the sharedKeyPairs
    // contract): without the persist the corpus scan, norm, and
    // nearest-centroid kernel run twice per call. Released via the
    // sketch-cache contract (Dedup.withSketchCache /
    // releaseSketchCaches).
    val coded = Dedup.persistSketch(
      assigned.select(col("id"), col("cv"), col("cn"), col("list")))
    // Intra-list pair scoring, SIZE-ROUTED (round 17; measured both ways
    // at sf0.1 — QProf in OPTIMIZATION_r17.md):
    //   - small assignment tables (≤ `spark.graft.similarity.pairJoinFloor`
    //     rows, default 16384 ≈ the 10 MB auto-broadcast threshold at
    //     dim 64): the row-per-pair self-join with the build side PINNED
    //     to broadcast — a BroadcastHashJoin parallelizes by the probe
    //     side's partitions, shuffles nothing, and beats any blocked grid
    //     at this size (the grid's collect_list + block replication
    //     shuffled 19 MB where the join moved 60 KiB).
    //   - above the floor: the PairGrid with one group per list, sized by
    //     PairGrid.blocksPerGroup at 4096 rows per block from one
    //     (list, count) row per list collected from the executors
    //     (quantizer-sized, like the centroids). A list is ONE join key,
    //     so past broadcastability the join plans sort-merge and computes
    //     each list's whole |list|²/2 grid inside a single task — zero
    //     parallelism; at nlist=1 (the exact-reference arm of d15b) that
    //     serialized the entire n²/2 grid on one core (measured 171 s at
    //     native sf1).
    // Pairs and cos_sim hash-match either way (the PairGrid scaladoc says
    // why; OperatorsSpec pins blocked ≡ join); multi-list duplicates
    // dedup through the max aggregate on both.
    val pairFloor = emb.sparkSession.conf
      .get("spark.graft.similarity.pairJoinFloor", "16384").toLong
    val pairs =
      if (total * (if (nlist == 1) 1L else math.max(1, nprobe).toLong)
          <= pairFloor)
        broadcast(coded).as("a").join(coded.as("b"),
            col("a.list") === col("b.list") && col("a.id") < col("b.id"))
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
            try_divide(dot(col("a.cv"), col("b.cv")),
              col("a.cn") * col("b.cn")).as("cos"))
          .where(col("cos") >= threshold)
      else {
        val rows = coded.select(col("list").cast("long").as("grp"), col("id"),
          struct(col("cv").as("v"), col("cn").as("nrm")).as("p"))
        val sizes = rows.groupBy("grp").agg(count(lit(1))).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        PairGrid.pairs[Vec](rows, PairGrid.blocksPerGroup(sizes.toSeq, 4096,
          emb.sparkSession.sparkContext.defaultParallelism), threshold, "cos")(
          cosineScore)
      }
    pairs.groupBy("a_id", "b_id")
      .agg(round(max(col("cos")), 4).as("cos_sim"))
  }

  /** Plain-L2 Lloyd k-means per contiguous subspace over a driver-side
    * sample — the PQ codebook trainer. Deterministic: seeded init from the
    * distinct subvectors, empty clusters keep their previous centroid.
    * Subspace widths are dim/m with the remainder going to the last
    * subspace, so any (dim, m) pair trains. */
  private def trainPqCodebooks(sample: Array[Array[Double]], m: Int,
      ksubRequested: Int, maxIter: Int): Seq[Seq[Seq[Double]]] = {
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(m >= 1 && m <= dim, s"PQ subspaces m=$m out of range for dim=$dim")
    val base = dim / m
    val starts = (0 until m).map(_ * base)
    val widths = (0 until m).map(j => if (j == m - 1) dim - starts(j) else base)
    (0 until m).map { j =>
      val (off, d) = (starts(j), widths(j))
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + d))
      val distinct = subs.map(_.toSeq).distinct.map(_.toArray)
      val ksub = math.max(1, math.min(ksubRequested, distinct.length))
      val rnd = new scala.util.Random(42L + j)
      var cents = rnd.shuffle(distinct.indices.toList).take(ksub)
        .map(i => distinct(i).clone()).toArray
      var it = 0
      while (it < maxIter) {
        val sums = Array.fill(ksub)(new Array[Double](d))
        val counts = new Array[Int](ksub)
        subs.foreach { s =>
          val best = VectorKernels.nearestL2(s, cents)
          var i = 0
          while (i < d) { sums(best)(i) += s(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** Pad ragged codebooks (a low-cardinality subspace can train fewer than
    * `ksubRequested` centroids) to a uniform ksub by repeating each
    * subspace's last centroid. Uniformity is what lets `pqLut` flatten to a
    * fixed m·ksub stride and `PqScore` recover ksub as lut.length/m;
    * duplicate centroids are score-neutral (strict `<` in the argmin keeps
    * the first occurrence, and the LUT rows are identical). */
  private def padCodebooks(cbs: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    val kmax = cbs.map(_.length).max
    cbs.map(cb => if (cb.length == kmax) cb
      else cb ++ Seq.fill(kmax - cb.length)(cb.last))
  }

  /** Product-quantization approximate cosine top-k (the faiss ADC layout,
    * Spark-first): per-subspace codebooks trained on a bounded driver-side
    * sample; the corpus is encoded ONCE into m small code words + a stored
    * norm (≈16× less data than the raw vectors — at 100 TB the codes table
    * is what a production pipeline persists and scans); each query carries
    * a flattened lookup table, so the scoring scan does m table lookups
    * per (query, row) pair instead of a dim-wide dot product. The PQ
    * top-(k·rerankFactor) candidates are then re-scored EXACTLY against
    * their full vectors (one bounded candidate fetch join), which restores
    * near-exact top-k quality from an approximate scan. Output matches
    * [[bruteTopK]]: (qid, cid, cos_sim, rnk). */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 256,
      maxIter: Int = 8,
      trainCap: Int = 20000,
      rerankFactor: Int = 8): DataFrame =
    pqProbe(buildPqIndex(corpus, idCol, vecCol, m, ksub, maxIter, trainCap),
      queries, corpus, idCol, vecCol, k, rerankFactor)

  /** Trained PQ state: per-subspace codebooks plus the corpus encoded to
    * (cid, cn, codes) — ~16× less scan data than the raw vectors at the
    * m=8 default. Build once, probe per query batch ([[pqProbe]]); persist
    * with [[savePqIndex]]. The raw corpus stays OUTSIDE the index (probe
    * takes it as a parameter for the bounded exact re-rank fetch) — at
    * 100 TB duplicating the vectors into the index would defeat the
    * compression that makes PQ worth building. */
  final case class PqIndex private[operators] (
      codebooks: Seq[Seq[Seq[Double]]], codes: DataFrame)

  /** Train the codebooks on a bounded seeded sample (same recipe as
    * [[buildIvfIndex]]) and encode the corpus ONCE — a codegen'd argmin
    * kernel inside the scan projection, map-side. */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 256,
      maxIter: Int = 8,
      trainCap: Int = 20000): PqIndex = {
    val c = corpusShape(corpus, idCol, vecCol)
    val total = c.count()
    val cbs = padCodebooks(
      trainPqCodebooks(sampleVecs(c, total, trainCap), m, ksub, maxIter))
    PqIndex(cbs, c.select(col("cid"), col("cn"),
      GraftFunctions.pqEncode(col("cv"), cbs).as("codes")))
  }

  /** Probe a (built or loaded) [[PqIndex]]: ADC scoring over the compressed
    * codes (each query carries a flattened lookup table, so the scan does m
    * table lookups per pair instead of a dim-wide dot product), then the
    * PQ top-(k·rerankFactor) candidates are re-scored EXACTLY against their
    * full vectors from `corpus` — one bounded candidate fetch join
    * (nq·k·rerankFactor rows broadcast against the corpus), restoring
    * near-exact top-k quality from an approximate scan. */
  def pqProbe(
      index: PqIndex,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerankFactor: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qlut = q.select(col("qid"), col("qn"),
      GraftFunctions.pqLut(col("qv"), index.codebooks).as("lut"))

    val approx =
      if (!index.codes.columns.contains("repid"))
        index.codes.crossJoin(broadcast(qlut))
          .select(col("qid"), col("cid"),
            try_divide(GraftFunctions.pqScore(col("codes"), col("lut")),
              col("qn") * col("cn")).as("cos"))
      else {
        // Collapsed codes: the m-lookup ADC scan runs once per distinct
        // (cn, codes) group (rep rows), then the score fans out to every
        // twin through a narrow repid join — the candidate pool seen by
        // the rerank is identical to the uncollapsed scan's (copies carry
        // equal approximate scores either way).
        val repScores = index.codes
          .where(col("cid") === col("repid"))
          .crossJoin(broadcast(qlut))
          .select(col("qid"), col("repid"),
            try_divide(GraftFunctions.pqScore(col("codes"), col("lut")),
              col("qn") * col("cn")).as("cos"))
        index.codes.select(col("cid"), col("repid"))
          .join(repScores, Seq("repid"))
          .select(col("qid"), col("cid"), col("cos"))
      }
    val cand = topKPerQuery(approx, k * rerankFactor).select("qid", "cid")

    val c = corpus.select(col(idCol).as("cid"),
        toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val exact = c.join(broadcast(cand), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        try_divide(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("cos"))
    topKPerQuery(exact, k)
  }

  /** Persist a [[PqIndex]]: codebooks as a small (j, c, v) frame, the
    * encoded corpus as parquet — the compressed artifact a production
    * pipeline scans instead of the raw vectors. */
  def savePqIndex(index: PqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (v, c) => (j, c, v) }
    }.toDF("j", "c", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    // A fresh save resets the artifact (saveIvfIndex contract).
    pruneArtifactDirs(spark, path, "codes", keep = Set("codes"))
    clearTombstones(spark, path)
  }

  /** Load a [[PqIndex]] written by [[savePqIndex]] (and possibly compacted
    * since): no retraining, no re-encoding — query batches probe the
    * newest committed codes generation directly. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndex = {
    val codesDir = currentArtifactDir(spark, path, "codes")
    // A rebuilt generation carries its retrained codebooks
    // ([[rebuildPqIndex]]); older generations use the build-time ones.
    val cbDir =
      if (hfs(spark, path).exists(
          new org.apache.hadoop.fs.Path(s"$codesDir/_quantizer")))
        s"$codesDir/_quantizer"
      else s"$path/codebooks"
    val cbs = spark.read.parquet(cbDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val tombs = tombstoneFiles(spark, path)
    val masked = maskByFiles(spark, loadArtifact(spark, codesDir), tombs)
    // Self-rep fallback while UNAPPLIED tombstones are live
    // ([[loadIvfIndex]]'s promotion-until-compaction rule).
    val unapplied = tombs.filterNot(appliedTombstoneFiles(spark, path))
    PqIndex(cbs, if (unapplied.nonEmpty) selfRep(masked) else masked)
  }

  /** Generation-merge a saved PQ index's codes — [[compactIvfIndex]] for
    * the flat codes table: appends accumulate one part-file per batch, and
    * the ADC scan's cost at steady state becomes file opens rather than
    * code bytes. Rewrites the current codes into the next committed
    * generation sized by bytes (~128 MB per output file, minimum one),
    * keeps the source for one reader-grace cycle, prunes older
    * generations, and returns the reloaded index. Probe results are
    * identical — the rewrite only re-buckets rows across files. */
  /** [[listImbalance]] for the PQ family: max/mean CODE population across
    * all m subspaces of an encoded frame (codes is the m-byte array
    * column). Sustained drift concentrates arrivals onto few codes per
    * subspace — ADC contrast collapses (many corpus rows share the hot
    * codes' distances) and the rerank works harder for the same quality.
    * One (m·n → m·ksub)-row aggregation; 0.0 when empty. */
  def pqCodeImbalance(codes: DataFrame): Double = {
    val r = codes
      .select(posexplode(col("codes")).as(Seq("j", "c")))
      .groupBy("j", "c").agg(count(lit(1)).as("n"))
      .groupBy("j").agg((max(col("n")).cast("double") /
        avg(col("n"))).as("imb"))
      .agg(max(col("imb")).as("mx")).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** REBUILD a saved PQ index: retrain the codebooks on the CURRENT
    * distribution and re-encode — the [[rebuildIvfIndex]] action for the
    * lossy family. PQ codes cannot be decoded back to vectors, so the
    * caller supplies the corpus (the same frame [[pqProbe]] reranks
    * against — PQ serving always has it); ids absent from the stored
    * live codes (tombstoned, never appended) are NOT resurrected: the
    * rebuilt code set is exactly the stored live id set. Codebooks commit
    * with their codes as one generation (`<gen>/_quantizer`,
    * [[rebuildIvfIndex]]'s atomicity), and [[loadPqIndex]] prefers the
    * generation's codebooks over the build-time `$path/codebooks`. */
  def rebuildPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 0, ksub: Int = 0, maxIter: Int = 8,
      trainCap: Int = 20000): PqIndex = {
    import spark.implicits._
    // Default shape = the stored index's own (m, ksub): a rebuild changes
    // the TRAINING distribution, not the artifact geometry.
    val curCbs = loadPqIndex(spark, path).codebooks
    val mEff = if (m > 0) m else curCbs.length
    val ksubEff = if (ksub > 0) ksub else curCbs.headOption.map(_.length)
      .getOrElse(256)
    val tombs = tombstoneFiles(spark, path)
    val liveIds = maskByFiles(spark,
      loadArtifact(spark, currentArtifactDir(spark, path, "codes")), tombs)
      .select(col("cid"))
    val liveVecs = corpusShape(corpus, idCol, vecCol)
      .join(liveIds, Seq("cid"), "left_semi")
    val cbs = padCodebooks(trainPqCodebooks(
      sampleVecs(liveVecs, liveVecs.count(), trainCap), mEff, ksubEff,
      maxIter))
    compactArtifact(spark, path, "codes") { (_, target) =>
      cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (v, c) => (j, c, v) }
      }.toDF("j", "c", "v").coalesce(1)
        .write.parquet(s"$target/_quantizer")
      val recoded = liveVecs.select(col("cid"), col("cn"),
        GraftFunctions.pqEncode(col("cv"), cbs).as("codes"))
      // Re-derive the score-identity reps under the NEW codebooks.
      val rows =
        if (hasDupGroups(recoded, Seq("cn", "codes")))
          collapsePqReps(recoded)
        else recoded
      rows.write.mode("append").parquet(target)
    }
    retireAppliedTombstones(spark, path, tombs)
    loadPqIndex(spark, path)
  }

  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetPartitions: Int = 0,
      rebuildFrom: Option[(DataFrame, String, String)] = None): PqIndex = {
    // DRIFT CHECK at the compaction point ([[compactIvfIndex]] contract
    // for the lossy family): codes alone cannot retrain, so the rebuild
    // branch needs the caller to hand the corpus in (`rebuildFrom` =
    // (corpus, idCol, vecCol)); without it the signal is still LOGGED so
    // an operator sees the drift even when this call cannot act on it.
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val tombs0 = tombstoneFiles(spark, path)
    val pqBar = imbalanceRebuildBar(spark)
    // Rep rows only ([[compactIvfIndex]]'s signal rule): the scan cost a
    // retrain can act on, not the raw duplication mass — with the same
    // unapplied-tombstone fallback to distinct-group counting (a masked
    // representative must not hide its twins from the signal).
    val unapplied0 =
      tombs0.filterNot(appliedTombstoneFiles(spark, path)).nonEmpty
    val imb = pqCodeImbalance(signalRows(maskByFiles(spark,
      loadArtifact(spark, currentArtifactDir(spark, path, "codes")), tombs0),
      unapplied0, Seq(col("cn"), col("codes"))))
    if (imb > pqBar) rebuildFrom match {
      case Some((corpus, idCol, vecCol)) =>
        log.warn(f"compactPqIndex: code imbalance $imb%.1f exceeds " +
          f"$pqBar%.1f — escalating to a codebook " +
          "rebuild (rebuildPqIndex).")
        return rebuildPqIndex(spark, path, corpus, idCol, vecCol)
      case None =>
        log.warn(f"compactPqIndex: code imbalance $imb%.1f exceeds " +
          f"$pqBar%.1f but no corpus was supplied " +
          "(rebuildFrom) — compacting with the FROZEN codebooks; schedule " +
          "rebuildPqIndex with the corpus to restore ADC contrast.")
    }
    else log.info(f"compactPqIndex: code imbalance $imb%.1f " +
      f"(rebuild bar $pqBar%.1f).")
    val tombs = tombstoneFiles(spark, path)
    compactArtifact(spark, path, "codes") { (cur, target) =>
      // Carry a rebuilt generation's codebooks forward with its codes
      // ([[compactIvfIndex]]'s quantizer-travels-with-artifact rule).
      if (hfs(spark, path).exists(
          new org.apache.hadoop.fs.Path(s"$cur/_quantizer")))
        spark.read.parquet(s"$cur/_quantizer").coalesce(1)
          .write.parquet(s"$target/_quantizer")
      val parts =
        if (targetPartitions > 0) targetPartitions
        else {
          val bytes = hfs(spark, path).getContentSummary(
            new org.apache.hadoop.fs.Path(cur)).getLength
          math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
        }
      val live = maskByFiles(spark, loadArtifact(spark, cur), tombs)
        .drop("repid")
      // Score-identity collapse over the post-delete survivors (min
      // surviving cid = the promoted rep); dup-free stays legacy.
      val rows =
        if (hasDupGroups(live, Seq("cn", "codes"))) collapsePqReps(live)
        else live
      rows.repartition(parts).write.mode("append").parquet(target)
    }
    retireAppliedTombstones(spark, path, tombs)
    loadPqIndex(spark, path)
  }

  /** [[corpusShape]] + frozen-codebook encoding. */
  private def encodeWith(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    corpusShape(vecs, idCol, vecCol).select(col("cid"), col("cn"),
      GraftFunctions.pqEncode(col("cv"), codebooks).as("codes"))

  /** Fold new vectors into a [[PqIndex]] without retraining: codebooks are
    * FROZEN (faiss `add()` semantics) and the arrivals are encoded through
    * the same codegen'd kernel the build used. Sustained distribution
    * drift deserves retrained codebooks — a rebuild, by design. */
  def extendPqIndex(index: PqIndex, newVecs: DataFrame, idCol: String,
      vecCol: String): PqIndex =
    index.copy(codes = index.codes.unionByName(matchRepSchema(
      encodeWith(newVecs, idCol, vecCol, index.codebooks),
      like = index.codes)))

  /** [[extendPqIndex]] straight onto a saved index's files: encode with the
    * stored codebooks and APPEND to the codes parquet. Same append-grade
    * durability caveat as [[appendIvfIndex]]. Returns the loaded
    * post-append index. */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String): PqIndex = {
    val idx = loadPqIndex(spark, path)
    val codesDir = currentArtifactDir(spark, path, "codes")
    // Self-rep arrivals into a collapsed generation ([[appendIvfIndex]]'s
    // schema-match rule); the next compaction folds them.
    matchRepSchema(encodeWith(newVecs, idCol, vecCol, idx.codebooks),
        like = idx.codes)
      .write.mode("append").parquet(codesDir)
    loadPqIndex(spark, path)
  }

  /** Approximate cosine top-k: candidates = corpus rows sharing ≥1 subcode
    * with the query, scored exactly, per-query top-k. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 0,
      groups: Int = 4,
      bitsPerGroup: Int = 4,
      seed: Long = 42L): DataFrame = {
    // dim = 0 (default) infers the hyperplane dimension from the corpus — a
    // LIMIT-1 scan, independent of corpus size. An explicit dim is validated
    // instead of trusted: a mismatch would silently truncate every dot
    // product (DotProduct loops to min(len)), zeroing the sign bits' signal.
    // Null/empty embeddings are skipped BEFORE the limit — which row a
    // LIMIT-1 scan returns is layout-dependent, and a scrubbed null row
    // must not flakily abort a corpus whose real vectors are fine.
    val sampledDim = corpus
      .select(size(toDoubleVec(col(vecCol))).as("d"))
      .where(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val planeDim =
      if (dim > 0) {
        require(sampledDim == 0 || sampledDim == dim,
          s"lshTopK: dim=$dim does not match the corpus embedding " +
            s"dimension $sampledDim")
        dim
      } else {
        require(sampledDim > 0,
          "lshTopK: cannot infer embedding dimension from an empty corpus; " +
            "pass dim explicitly")
        sampledDim
      }
    val planes = hyperplanes(planeDim, groups * bitsPerGroup, seed)

    def coded(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(idCol).as(id), toDoubleVec(col(vecCol)).as(vec))
        .withColumn(s"${id}_n", norm(col(vec)))
        .select(col(id), col(vec), col(s"${id}_n"),
          explode(subcodes(col(vec), planes, groups, bitsPerGroup)).as("sc"))
        .select(col(id), col(vec), col(s"${id}_n"),
          col("sc.g").as("g"), col("sc.code").as("code"))

    val q = coded(queries, "qid", "qv")
    val c = coded(corpus, "cid", "cv")

    // Score BEFORE the (qid,cid) candidate dedup: a pair's cosine is
    // identical whichever subcode matched it, so aggregating max(cos)
    // dedups on one scalar — the exchange carries (qid,cid,cos) rows
    // instead of two ~dim-sized double vectors per candidate. The dot
    // product is recomputed once per matching subcode (≤ `groups`), all
    // map-side codegen; shuffle width is what kills at scale, not FLOPs.
    val scored = c.join(broadcast(q), Seq("g", "code"))
      .select(col("qid"), col("cid"),
        try_divide(dot(col("qv"), col("cv")),
          col("qid_n") * col("cid_n")).as("cos"))
      .groupBy("qid", "cid").agg(max("cos").as("cos"))
    topKPerQuery(scored, k)
  }
}
