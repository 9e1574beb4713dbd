package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for large-large equi-joins.
  *
  * Spark's AQE rewrites skewed sort-merge joins at runtime by splitting
  * oversized partitions, and broadcast joins are skew-immune — so most skew
  * needs no hand-holding. These operators cover the cases AQE can't fix:
  * a single hot key whose tie group must land in one task under plain
  * hash partitioning, on engines/paths where AQE skew handling doesn't
  * apply (e.g. a non-sort-merge plan, or a downstream groupBy on the join
  * key).
  *
  *   - [[saltedJoin]]: split every left row's key into `n` synthetic
  *     sub-keys (salt), replicate the right side `n`× (one copy per salt
  *     value), join on (key, salt). The hot key's rows spread over `n`
  *     tasks at the cost of an `n`× blow-up of the right side — right
  *     for a modest-sized right table and severe left skew.
  *   - [[hotSplitJoin]]: find keys above a frequency threshold with one
  *     cheap aggregate on the left, route those rows through a broadcast
  *     join (the right-side rows for a few hot keys are small by
  *     definition), and everything else through the normal shuffle join;
  *     union the halves. No replication factor to tune, and the cold path
  *     stays a vanilla equi-join that AQE can still optimize.
  *
  * Both produce results identical to the plain join — verified against
  * the DuckDB oracle by `j10_salted_join`.
  */
object Skew {

  /** Inner equi-join of `left` and `right` on `keys`, with the left side
    * salted into `n` sub-keys and the right side replicated `n`×. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      n: Int,
      seed: Long = 42L): DataFrame = {
    require(n >= 1, s"saltedJoin(n=$n): need n >= 1")
    // Any salt assignment is correct (it only spreads rows) — but it must
    // be DETERMINISTIC per row: rand(seed) re-draws when a fetch failure
    // re-runs part of the map stage, and a row whose two attempts drew
    // different salts can be duplicated or lost across reducers
    // (SPARK-38388; guide §2.5 prescribes deriving synthetic keys
    // deterministically). A content hash over the full row spreads a hot
    // key's distinct rows uniformly and reproduces exactly under retry.
    val l = left.withColumn("__salt",
      pmod(xxhash64(lit(seed) +: left.columns.map(col): _*), lit(n))
        .cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until n).map(lit): _*)))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** Keys whose left-side row count is ≥ `minCount`, collected to the
    * driver (by construction a handful — hot keys are rare or they aren't
    * hot). */
  def hotKeys(
      left: DataFrame,
      keys: Seq[String],
      minCount: Long): DataFrame =
    left.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= minCount)
      .drop("__cnt")

  /** Inner equi-join with hot-key routing: rows whose key frequency on the
    * left is ≥ `minCount` join via an explicit broadcast of the matching
    * right-side rows; the rest take the ordinary shuffle join.
    *
    * Guarded against misconfiguration: the hot-key set is collected to the
    * driver (bounded — at most `maxHotKeys + 1` rows move), and when it is
    * empty or larger than `maxHotKeys` the plain shuffle join is returned
    * instead. A `minCount` at or below the typical key frequency would
    * otherwise classify much of the table as "hot" and broadcast a huge
    * right slice — hot keys are rare or they aren't hot. The collected keys
    * also replace the earlier cached-DataFrame plumbing, so repeated calls
    * leave nothing pinned in executor storage.
    *
    * Result is identical to `left.join(right, keys)` in every case. The
    * broadcast of `rHot` assumes few right-side rows per hot key (a dim-like
    * right side) — with `maxHotKeys` keys it is bounded by
    * `maxHotKeys · rowsPerKey`. */
  def hotSplitJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      minCount: Long,
      maxHotKeys: Int = 10000): DataFrame = {
    val hotRows = hotKeys(left, keys, minCount).limit(maxHotKeys + 1).collect()
    if (hotRows.isEmpty || hotRows.length > maxHotKeys)
      return left.join(right, keys)

    val spark = left.sparkSession
    val keySchema = org.apache.spark.sql.types.StructType(
      keys.map(k => left.schema(k)))
    val hot = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), keySchema))

    val lHot = left.join(hot, keys, "left_semi")
    val lCold = left.join(hot, keys, "left_anti")
    val rHot = right.join(hot, keys, "left_semi")

    lHot.join(broadcast(rHot), keys).unionByName(lCold.join(right, keys))
  }
}
