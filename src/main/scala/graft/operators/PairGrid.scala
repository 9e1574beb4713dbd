package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** The exact all-pairs grid behind [[Dedup.exactJaccard]]'s small-corpus
  * path, [[Similarity.cosinePairsBlocked]] and the per-list pair stage of
  * [[Similarity.ivfCosinePairs]].
  *
  * Shape: each (group, id, payload) row hashes into one of its group's
  * blocks; the (group, bi ≤ bj) block pairs form a tiny locally built combo
  * table, broadcast and equi-joined (on group and block) to the
  * collected blocks, so every block pair is one independent row —
  * no BroadcastNestedLoopJoin, no CartesianProduct, no O(n²) join rows.
  * The combo rows spread over `min(combos, 8·par)` tasks, and each task
  * runs the upper triangle of its block pair (the same block pairs with
  * itself from i + 1) through the caller's [[Score]]. Work is O(n²) by
  * contract — this is the exact ground truth the LSH, prefix and IVF
  * routes approximate — but no task holds more than two blocks.
  *
  * Exactness: every unordered pair of rows sharing a group is scored
  * exactly once per group, and kept iff its score is ≥ the threshold (a
  * NaN score never is). A pair sharing several groups (IVF
  * multi-assignment) is emitted once per shared group; callers dedup.
  *
  * Orientation: a_id < b_id, numeric for integral ids (run as long and
  * cast back) and UTF-8 binary order for strings — the order Spark's own
  * `x.id < y.id` applies, so the grid and the join routes agree on every
  * pair. Any other id type runs as its string cast.
  *
  * Scores are bit-identical to the join routes because the callers' pair
  * kernels are `VectorKernels.dot`/`sortedCommon`, the one loop each that
  * `graft_dot` and `graft_sorted_common` run too, and the divides around
  * them are single IEEE ops on symmetric operands.
  */
private[graft] object PairGrid {

  /** One pair's score; below the threshold (or NaN) drops the pair. A SAM
    * with a primitive result, so the per-pair call boxes nothing. */
  trait Score[P] extends Serializable { def apply(a: P, b: P): Double }

  case class Item[I, P](id: I, p: P)

  /** Blocks for a one-group grid: max(2, ⌈√(4·par)⌉), about 2·par block
    * pairs. */
  def minBlocks(par: Int): Int =
    math.max(2, math.ceil(math.sqrt(4.0 * par)).toInt)

  /** Blocks per group for many groups: a row bound (`⌈size/rowsPerBlock⌉`,
    * the per-task memory bound) or a parallelism share, whichever is
    * larger, and at least 1. Splitting group g into B_g blocks yields about
    * B_g²/2 block pairs, so B_g = ⌊size_g·√(8·par/Σ size²)⌋ puts about
    * 4·par block pairs on the groups that own the pair work: one giant
    * group splits across every core while a sea of small groups stays at
    * one block each (their count is the parallelism).
    *
    * FLOOR, not ceil, on the parallelism term: for L equal groups it reads
    * √(8·par/L), so L ∈ (2·par, 8·par) groups read 1.x and ceil would split
    * every group in two — doubling the block pairs and replicating every
    * row through the pair exchange for parallelism the group count already
    * gives (measured at native sf1, 32 cores: d15's pair stage shuffled
    * 408 MB against 317 MB at 8 cores).
    */
  def blocksPerGroup(sizes: Seq[(Long, Long)], rowsPerBlock: Long,
      par: Int): Map[Long, Int] = {
    val totalWork = sizes.iterator.map { case (_, n) => n.toDouble * n }.sum
    val parScale = if (totalWork > 0) math.sqrt(8.0 * par / totalWork) else 0.0
    sizes.iterator.map { case (g, n) =>
      g -> math.max(1, math.max(math.ceil(n.toDouble / rowsPerBlock),
        math.floor(n * parScale)).toInt)
    }.toMap
  }

  /** All pairs within each group of `rows` (columns `grp` bigint, `id`,
    * `p` a struct decoding to P) scoring ≥ `threshold`, as
    * (a_id, b_id, `scoreCol`) with a_id < b_id. `blocks` gives each
    * group's block count; a group missing from it has no pairs. */
  def pairs[P: TypeTag](rows: DataFrame, blocks: Map[Long, Int],
      threshold: Double, scoreCol: String)(score: Score[P]): DataFrame =
    rows.schema("id").dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) =>
        grid[Long, P](rows.withColumn("id", col("id").cast(LongType)),
          blocks, threshold, scoreCol, score)
          .withColumn("a_id", col("a_id").cast(t))
          .withColumn("b_id", col("b_id").cast(t))
      case _ => // strings, and any other type as its string cast
        grid[String, P](rows.withColumn("id", col("id").cast(StringType)),
          blocks, threshold, scoreCol, score)(
          implicitly, implicitly, Utf8IdOrdering)
    }

  /** Spark compares strings as UTF-8 bytes; Scala's default Ordering
    * compares UTF-16 code units, and the two disagree on supplementary-
    * plane characters. */
  private object Utf8IdOrdering extends Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  private def grid[I: TypeTag, P: TypeTag](rows: DataFrame,
      blocks: Map[Long, Int], threshold: Double, scoreCol: String,
      score: Score[P])(implicit ord: Ordering[I]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    implicit val pairEnc: Encoder[(Int, Int, Array[Item[I, P]], Array[Item[I, P]])] =
      ExpressionEncoder[(Int, Int, Array[Item[I, P]], Array[Item[I, P]])]()
    implicit val outEnc: Encoder[(I, I, Double)] =
      ExpressionEncoder[(I, I, Double)]()
    if (blocks.isEmpty)
      return spark.emptyDataset[(I, I, Double)].toDF("a_id", "b_id", scoreCol)
    val combos = blocks.toSeq
      .flatMap { case (g, b) => for { i <- 0 until b; j <- i until b } yield (g, i, j) }
      .toDF("grp", "bi", "bj")
    val numCombos = blocks.valuesIterator.map { b => b.toLong * (b + 1) / 2 }.sum
    val par = spark.sparkContext.defaultParallelism
    val blocked = rows
      .select(col("grp"),
        pmod(hash(col("id")), element_at(typedlit(blocks), col("grp")))
          .cast("int").as("blk"),
        struct(col("id"), col("p")).as("item"))
      .groupBy("grp", "blk").agg(collect_list(col("item")).as("items"))
    broadcast(combos)
      .join(blocked.select(col("grp"), col("blk").as("bi"),
        col("items").as("litems")), Seq("grp", "bi"))
      .join(blocked.select(col("grp"), col("blk").as("bj"),
        col("items").as("ritems")), Seq("grp", "bj"))
      .select(col("bi"), col("bj"), col("litems"), col("ritems"))
      .repartition(math.min(numCombos, 8L * par).toInt)
      .as[(Int, Int, Array[Item[I, P]], Array[Item[I, P]])]
      .flatMap { case (bi, bj, left, right) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(I, I, Double)]
        // A block paired with itself reads one list on both sides, so the
        // triangle cannot depend on two reads agreeing on item order.
        val same = bi == bj
        val r = if (same) left else right
        var i = 0
        while (i < left.length) {
          val a = left(i)
          var j = if (same) i + 1 else 0
          while (j < r.length) {
            val b = r(j)
            val s = score(a.p, b.p)
            if (s >= threshold) out +=
              (if (ord.lteq(a.id, b.id)) (a.id, b.id, s) else (b.id, a.id, s))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a_id", "b_id", scoreCol)
  }
}
