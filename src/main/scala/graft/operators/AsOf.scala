package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join — the time-series operator Spark SQL has
  * no built-in for: for each left row, attach the latest right row of the
  * same key whose timestamp is ≤ the left row's.
  *
  * Shape: tag both sides, union, and run `last(right_payload, ignoreNulls)`
  * over a per-key time-ordered running window. One shuffle (the window's
  * key partition), sorting within partitions only — no per-row range probe,
  * no nested-loop join, no driver involvement. Equal timestamps order the
  * right row first, so a right row at exactly the left's timestamp matches
  * (inclusive as-of, same as DuckDB/kdb `asof`). This is the same plan
  * shape a streaming backfill uses, so it scales with the key
  * cardinality, not the pair count.
  */
object AsOf {

  /** Left as-of join. Output: all `left` columns plus `payload` columns
    * from the matched right row (null when the key has no right row at or
    * before the left timestamp). `payload` names must not clash with left
    * column names — alias on the way in. */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "asof join needs at least one payload column")
    val leftCols = left.columns.toSeq

    val lp = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payload.map(col): _*).schema.fields)))
    val rp = right
      .select((keys.map(col) :+ col(rightTs).as("__ts")) :+
        struct(payload.map(col): _*).as("__r"): _*)
      .withColumn("__side", lit(0))
    // Left-only columns null-padded on the right side.
    val union = lp.select(
      (keys.map(col) ++ Seq(col("__ts"), col("__side"), col("__r")) ++
        leftCols.filterNot(keys.contains).map(col)): _*)
      .unionByName(rp, allowMissingColumns = true)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    union
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col(s"__match.$p").as(p)): _*)
  }
}
