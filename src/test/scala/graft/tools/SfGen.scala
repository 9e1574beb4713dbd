package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native-cardinality dbgen-style synthesizer (round-11 punch list item 8):
  * generates the full driver table set — star schema + events + documents +
  * embeddings — at an arbitrary scale factor with NATIVE key cardinalities
  * and value distributions, so scale measurements past sf0.1 carry no
  * replication caveat (the FK-consistent rep× path repeats value
  * distributions; this one doesn't). Schemas, value domains, and row-count
  * ratios mirror the driver's generator (inspected at sf0.01: 150k·sf
  * customers, 10k·sf suppliers, 200k·sf parts, 1.5M·sf orders, ~4 lines
  * per order, 1M·sf events, 50k·sf docs/vectors).
  *
  * Determinism: every value is a pure hash of (salt, key) — no RNG state,
  * so any row range regenerates identically and generation parallelizes
  * embarrassingly (spark.range → narrow projections → parquet, the only
  * shape that would still work writing 100 TB of synthetic data).
  *
  *   sbt "Test/runMain graft.tools.SfGen [sf] [outDir]"
  */
object SfGen {

  /** Uniform [0, 1) from a salted hash of `k` — the dbgen substitute for a
    * seeded RNG stream. */
  private def u(salt: String, k: Column): Column =
    pmod(xxhash64(lit(salt), k), lit(1000000L)).cast("double") / 1000000.0

  /** Uniform integer in [0, n). */
  private def ui(salt: String, k: Column, n: Long): Column =
    pmod(xxhash64(lit(salt), k), lit(n))

  /** Uniform pick from a fixed value list. */
  private def pick(salt: String, k: Column, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*),
      (ui(salt, k, vs.size.toLong) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val out = args.drop(1).headOption.getOrElse(s"/tmp/graft_sf$sf")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus, graft.Harness.extraConf)
    import spark.implicits._

    val nCust = (150000 * sf).toLong max 1
    val nSupp = (10000 * sf).toLong max 1
    val nPart = (200000 * sf).toLong max 1
    val nOrd = (1500000 * sf).toLong max 1
    val nEvt = (1000000 * sf).toLong max 1
    val nDoc = (50000 * sf).toLong max 1

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sfgen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      System.out.flush()
    }

    write("region", Seq(("AFRICA", 0), ("AMERICA", 1), ("ASIA", 2),
        ("EUROPE", 3), ("MIDDLE EAST", 4))
      .toDF("r_name", "r_regionkey")
      .select(col("r_regionkey").cast("int"), col("r_name")))

    write("nation", spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("cnat", col("id"), 25).cast("int").as("c_nationkey"),
      round(u("cbal", col("id")) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick("cseg", col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))

    write("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("snat", col("id"), 25).cast("int").as("s_nationkey"),
      round(u("sbal", col("id")) * 11000.0 - 1000.0, 2).as("s_acctbal")))

    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick("padj", col("id"), Seq("small", "large", "red", "blue",
          "green", "shiny", "rusty", "plain")),
        pick("pnoun", col("id"), Seq("ring", "widget", "bolt", "gear",
          "wheel", "spring", "plate", "tube"))).as("p_name"),
      concat(lit("Brand#"), ui("pbrand", col("id"), 25) + 1).as("p_brand"),
      pick("ptype", col("id"), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")).as("p_type"),
      (ui("psize", col("id"), 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("pprice", col("id")) * 100.0, 2)
        .as("p_retailprice")))

    // o_orderdate spans 1995-01-01 .. 2001-08-01 (the driver's window).
    write("orders", spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      ui("ocust", col("id"), nCust).as("o_custkey"),
      pick("ostat", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", col("id")) * 499000.0, 2)
        .as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")),
        ui("odate", col("id"), 2404).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick("oprio", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))

    // 1–7 lines per order (mean 4, the driver's ratio): generate the
    // 7-slot grid and keep slot l when l < nlines(order) — a narrow
    // filter, never a per-order explode.
    write("lineitem", spark.range(nOrd * 7)
      .select(col("id").as("gid"), (col("id") / 7).cast("long").as("o"),
        (col("id") % 7).as("l"))
      .where(col("l") < ui("nl", col("o"), 7) + 1)
      .select(
        col("o").as("l_orderkey"),
        ui("lpart", col("gid"), nPart).as("l_partkey"),
        ui("lsupp", col("gid"), nSupp).as("l_suppkey"),
        (col("l") + 1).cast("int").as("l_linenumber"),
        (ui("lqty", col("gid"), 50) + 1).cast("double").as("l_quantity"),
        round((ui("lqty", col("gid"), 50) + 1).cast("double") *
          (lit(900.0) + u("lunit", col("gid")) * 1200.0), 2)
          .as("l_extendedprice"),
        (ui("ldisc", col("gid"), 11).cast("double") / 100.0)
          .as("l_discount"),
        (ui("ltax", col("gid"), 9).cast("double") / 100.0).as("l_tax"),
        pick("lret", col("gid"), Seq("A", "N", "R")).as("l_returnflag"),
        pick("lls", col("gid"), Seq("F", "O")).as("l_linestatus"),
        date_add(to_date(lit("1995-01-01")),
          (ui("odate", col("o"), 2404) + ui("lship", col("gid"), 120) + 1)
            .cast("int"))
          .cast("timestamp").as("l_shipdate")))

    // Events: one row every ~(31536000/nEvt·sf) seconds through 2024 —
    // monotone ts like the driver's stream table.
    write("events", spark.range(nEvt).select(
      col("id").as("event_id"),
      (to_timestamp(lit("2024-01-01 00:00:00")).cast("double") +
        col("id") * (31536000.0 / nEvt) + u("ejit", col("id")) * 10.0)
        .cast("timestamp").as("ts"),
      ui("euser", col("id"), (150 * math.max(sf, 0.001)).toLong max 10)
        .as("user_id"),
      pick("etype", col("id"), Seq("view", "click", "purchase", "signup",
        "error")).as("event_type"),
      round(u("eval", col("id")) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", ui("eprop", col("id"), 100))
        .as("props")))

    // Documents: 10–99 words from the driver's small vocabulary, with a
    // duplicate-cluster structure (every 10th doc echoes its anchor's
    // word stream — dedup operators need dups to find at native sf too).
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "window",
      "order", "data", "column", "join", "small", "line", "customer",
      "query", "filter", "group", "big", "vector", "the", "a", "l", "x")
    write("documents", spark.range(nDoc)
      .select(col("id").as("doc_id"),
        // Anchor: dup-cluster members share the anchor's word hashes.
        when(col("id") % 10 === 9, col("id") - 9).otherwise(col("id"))
          .as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", expr(
          s"transform(sequence(1, ${10}+ cast(pmod(xxhash64('dlen', seed), 90) as int)), " +
            "i -> element_at(array(" +
            vocab.map(w => s"'$w'").mkString(",") +
            "), cast(pmod(xxhash64('dw', seed, i), " +
            s"${vocab.size}) as int) + 1))")).as("text"),
        pick("dlang", col("doc_id"), Seq("en", "es", "fr", "de", "zh"))
          .as("lang"),
        concat(lit("src"), ui("dsrc", col("doc_id"), 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // Embeddings: 64-dim unit-ish float vectors; every 10th vector
    // repeats its anchor (cosine-1 twins for the dedup family).
    write("embeddings", spark.range(nDoc)
      .select(col("id").as("vec_id"),
        when(col("id") % 10 === 9, col("id") - 9).otherwise(col("id"))
          .as("seed"))
      .select(col("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "cast(cast(pmod(xxhash64('emb', seed, i), 2000) as double) " +
          "/ 1000.0 - 1.0 as float))").as("embedding"),
        ui("elab", col("vec_id"), 10).cast("int").as("label")))

    println(s"[sfgen] wrote sf=$sf to $out")
    spark.stop()
  }
}
