package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registers the driver testdata parquet tables (TESTDATA.md) as temp views,
  * once per (session, sfDir). Registration is metadata-only (a parquet
  * relation's schema read) — scans stay lazy, so filters/projections from the
  * queries are pushed down into the parquet reader by Catalyst.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The sfDir each session has registered (weakly keyed: a finished
    * session and its temp views are not kept alive). */
  private val registered = new PerSession[String]

  def ensure(spark: SparkSession, dir: String): Unit =
    if (!registered.get(spark).contains(dir)) synchronized {
      if (!registered.get(spark).contains(dir)) {
        // Session-level extensions: graft's native SQL functions.
        graft.functions.GraftFunctions.register(spark)
        // events.ts layout varies across testdata generations: older drivers
        // wrote parquet TIMESTAMP(NANOS) (which Spark 4 rejects by default —
        // nanosAsLong surfaces it as int64 ns), newer ones write timestamp[us]
        // (Spark reads it as TIMESTAMP_NTZ). Branch on the ACTUAL read schema
        // instead of assuming a layout: int64 → truncate ns → µs; any
        // timestamp flavor → cast to the session (UTC) timestamp, same
        // instant. DuckDB's native timestamp is µs in both cases, so the two
        // engines see identical values either way.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        all.foreach { t =>
          val p = s"$dir/$t.parquet"
          if (new java.io.File(p).exists()) {
            val raw = spark.read.parquet(p)
            val df =
              if (t == "events") {
                import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
                raw.schema("ts").dataType match {
                  case org.apache.spark.sql.types.LongType =>
                    raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
                  case org.apache.spark.sql.types.TimestampType => raw
                  case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
                }
              } else raw
            Engine.registerTempTable(df, t)
          }
        }
        registered.put(spark, dir)
      }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensure(spark, dir)
    spark.table(name)
  }

  private val counts = new PerSession[
    java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]]

  /** Memoized row count of a registered base table: one count job per
    * (session, sfDir, table) — parquet-footer metadata, no scan — then a
    * map lookup. Rank/analytics callers pass this as `knownCount` so their
    * adaptive strategy choice never adds a per-query job. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    ensure(spark, dir)
    counts.getOrElseUpdate(spark, new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent((dir, name),
      _ => java.lang.Long.valueOf(spark.table(name).count())).longValue()
  }
}
