package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** The distributed global-rank operator must be value-identical to Spark's
  * single-task window functions, including ties and mixed sort directions. */
class RanksSpec extends SparkSpecBase {

  test("distributed rank matches rank() over global order, with ties") {
    val li = spark.table("lineitem")
    val got = Ranks.globalRank(li, "rnk", dense = false,
        maxSingleTaskRows = 0L, // force the distributed path
        col("l_quantity").desc, col("l_orderkey").asc)
      .select(col("l_orderkey"), col("l_linenumber"), col("rnk"))
    val want = li.select(col("l_orderkey"), col("l_linenumber"),
      rank().over(Window.orderBy(col("l_quantity").desc, col("l_orderkey").asc))
        .cast("long").as("rnk"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("distributed dense rank matches dense_rank() over global order") {
    val o = spark.table("orders")
    val got = Ranks.globalRank(o, "drnk", dense = true,
        maxSingleTaskRows = 0L, col("o_totalprice").desc)
      .select(col("o_orderkey"), col("drnk"))
    val want = o.select(col("o_orderkey"),
      dense_rank().over(Window.orderBy(col("o_totalprice").desc))
        .cast("long").as("drnk"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("distributed path keeps the shuffle-partition fan-out") {
    val out = Ranks.globalRank(spark.table("orders"), "rnk", dense = false,
      maxSingleTaskRows = 0L, col("o_totalprice").desc)
    // Spark's built-in global window collapses to 1 partition.
    assert(out.rdd.getNumPartitions > 1)
  }

  test("degenerate low-cardinality key: giant tie groups stay correct") {
    // 3 distinct keys over 200k rows — every tie group dwarfs a partition.
    val df = spark.range(200000)
      .select(col("id"), (col("id") % 3).as("k"))
    val got = Ranks.globalRank(df, "rnk", dense = false,
        maxSingleTaskRows = 0L, col("k").asc)
      .groupBy("k", "rnk").count()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rank: all rows of key k share rank = #rows with smaller key + 1.
    assert(got.toSeq == Seq((0L, 1L, 66667L), (1L, 66668L, 66667L),
      (2L, 133335L, 66666L)))
    val dense = Ranks.globalRank(df, "dr", dense = true,
        maxSingleTaskRows = 0L, col("k").asc)
      .select(col("k"), col("dr")).distinct()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dense.toSeq == Seq((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("distributed analytics match percent_rank/cume_dist/ntile, with ties") {
    // l_quantity has heavy ties (50 distinct values) — exercises the
    // tie-group streaming for percent_rank (group-start rank) and cume_dist
    // (group-end position); ntile(7) exercises an uneven bucket layout.
    // l_linenumber completes a TOTAL order: (l_quantity, l_orderkey) alone
    // can tie (one order repeating a quantity), and ntile assignment within
    // a tie group depends on physical row order.
    val li = spark.table("lineitem")
    val order = Seq(col("l_quantity").asc, col("l_orderkey").asc,
      col("l_linenumber").asc)
    val got = Ranks.globalAnalytics(li, order, ntileN = 7,
        maxSingleTaskRows = 0L) // force the distributed path
      .select(col("l_orderkey"), col("l_linenumber"),
        col("pr"), col("cd"), col("tile"))
    val w = Window.orderBy(order: _*)
    val want = li.select(col("l_orderkey"), col("l_linenumber"),
      percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"),
      ntile(7).over(w).cast("long").as("tile"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("distributed analytics: no WindowExec, multi-partition output") {
    val out = Ranks.globalAnalytics(spark.table("orders"),
      Seq(col("o_totalprice").asc, col("o_orderkey").asc), ntileN = 4,
      maxSingleTaskRows = 0L)
    // The whole point: no single-task WindowExec anywhere in the plan.
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    assert(out.rdd.getNumPartitions > 1)
  }

  test("analytics adaptive default picks the same values either way") {
    val o = spark.table("orders")
    val order = Seq(col("o_totalprice").asc, col("o_orderkey").asc)
    val small = Ranks.globalAnalytics(o, order, ntileN = 4)
      .select(col("o_orderkey"), col("pr"), col("cd"), col("tile"))
    val dist = Ranks.globalAnalytics(o, order, ntileN = 4,
        maxSingleTaskRows = 0L)
      .select(col("o_orderkey"), col("pr"), col("cd"), col("tile"))
    assert(small.exceptAll(dist).isEmpty && dist.exceptAll(small).isEmpty)
  }

  test("stale knownCount hint on a replicating view still plans distributed") {
    // The round-10 sf1 probe scenario: the caller memoized the BASE table's
    // count, but the actual input is a replicating VIEW (a Union) holding
    // many times that. The hint must be discarded (InputStats sees the
    // Union), the honest count must exceed the cutoff, and the plan must be
    // the distributed shape — no single-task WindowExec anywhere.
    val o = spark.table("orders").select("o_orderkey", "o_totalprice")
    val replicated = (1 to 8).map(_ => o).reduce(_ union _)
    val baseCount = o.count() // the stale hint a caller would pass
    val out = Ranks.globalRank(replicated, "rnk", dense = false,
      maxSingleTaskRows = baseCount * 4, // replicated (8x) exceeds; hint doesn't
      baseCount, col("o_totalprice").desc)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "replicating view with a stale hint must not take the single-task path")
    assert(out.rdd.getNumPartitions > 1)
    // And the values are still exactly the built-in window's.
    val want = replicated.select(col("o_orderkey"),
      rank().over(Window.orderBy(col("o_totalprice").desc))
        .cast("long").as("rnk"))
    val got = out.select(col("o_orderkey"), col("rnk"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("trusted hint on a non-multiplying plan skips the count job") {
    // A pure project/filter chain over one scan: the hint is a sound upper
    // bound, so routing must use it (no honest count). Observable contract:
    // a deliberately-low FAKE hint under the cutoff takes the single-task
    // window path even though the real count would exceed it — proving the
    // hint, not a recount, routed the query.
    val li = spark.table("lineitem").select("l_orderkey", "l_quantity")
    val out = Ranks.globalRank(li, "rnk", dense = false,
      maxSingleTaskRows = 10L, 5L, col("l_quantity").desc)
    assert(out.queryExecution.executedPlan.toString.contains("Window"),
      "non-multiplying plan must trust the caller's hint")
    // And the structural classifier agrees on both shapes.
    import graft.operators.InputStats
    assert(InputStats.nonMultiplying(li.queryExecution.optimizedPlan))
    val uni = li.union(li)
    assert(!InputStats.nonMultiplying(uni.queryExecution.optimizedPlan))
    val joined = li.join(spark.table("orders"),
      li("l_orderkey") === col("o_orderkey"))
    assert(!InputStats.nonMultiplying(joined.queryExecution.optimizedPlan))
  }

  test("adaptive default picks the same values either way") {
    val got = Ranks.globalRank(spark.table("orders"), "rnk", dense = false,
        col("o_totalprice").desc) // small input → built-in window path
      .select(col("o_orderkey"), col("rnk"))
    val dist = Ranks.globalRank(spark.table("orders"), "rnk", dense = false,
        maxSingleTaskRows = 0L, col("o_totalprice").desc)
      .select(col("o_orderkey"), col("rnk"))
    assert(got.exceptAll(dist).isEmpty && dist.exceptAll(got).isEmpty)
  }

  test("groupedRunningSum: distributed path matches the per-group window, " +
      "groups spanning partitions, nulls count 0") {
    import spark.implicits._
    // Few huge groups — the skew shape the operator exists for: 3 groups,
    // each big enough to span several of the 4 shuffle partitions, plus a
    // null value and a 1-row group.
    val df = ((1 to 3000).map(i =>
        (i.toLong, s"g${i % 3}", Option((i % 7).toLong))) :+
        (9001L, "g0", None: Option[Long]) :+ (9002L, "solo", Option(5L)))
      .toDF("id", "grp", "v")
    val win = Ranks.groupedRunningSum(df, col("grp"), col("v"), "s",
        col("id")) // small input → built-in window path
      .select(col("id"), col("s"))
    val dist = Ranks.groupedRunningSum(df, col("grp"), col("v"), "s",
        0L, -1L, col("id")) // forced distributed
      .select(col("id"), col("s"))
    assert(win.exceptAll(dist).isEmpty && dist.exceptAll(win).isEmpty,
      "distributed per-group running sum must equal the window")
    // The distributed output really is multi-partition (no one-task stage).
    assert(Ranks.groupedRunningSum(df, col("grp"), col("v"), "s",
      0L, -1L, col("id")).rdd.getNumPartitions > 1)
    // Exclusive semantics: each group's first row (min id per group)
    // starts at 0.
    val firsts = win.where(col("id").isin(1L, 2L, 3L, 9002L))
      .select("s").as[Long].collect()
    assert(firsts.length == 4 && firsts.forall(_ == 0L))
  }

  test("groupedRunningSum routes on group cardinality: many small groups " +
      "keep the built-in window (parallel across hash buckets), few huge " +
      "groups go distributed — identical results either way") {
    import spark.implicits._
    def windowNodes(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }

    // MANY SMALL groups, forced past the row cutoff: the distributed
    // path's stats collect would be group-cardinality-sized on the
    // driver — the router must keep the built-in window.
    val many = (1 to 8000)
      .map(i => (i.toLong, s"g${i % 4000}", (i % 5).toLong))
      .toDF("id", "grp", "v")
    val routedWin = Ranks.groupedRunningSum(many, col("grp"), col("v"), "s",
      0L, -1L, 1000L, col("id"))
    assert(windowNodes(routedWin).nonEmpty,
      "many-small-groups input must route to the built-in window")
    // Router override: Long.MaxValue pins the distributed path; results
    // must be equal (the driver frame bound is the only difference).
    val pinned = Ranks.groupedRunningSum(many, col("grp"), col("v"), "s",
      0L, -1L, Long.MaxValue, col("id"))
    assert(windowNodes(pinned).isEmpty)
    assert(routedWin.select("id", "s").exceptAll(pinned.select("id", "s"))
        .isEmpty &&
      pinned.select("id", "s").exceptAll(routedWin.select("id", "s"))
        .isEmpty,
      "both routes must produce identical running sums")

    // FEW HUGE groups under the auto cap: the one-task-per-group window
    // is the cliff — the router must take the distributed path.
    val few = (1 to 9000).map(i => (i.toLong, s"g${i % 3}", (i % 7).toLong))
      .toDF("id", "grp", "v")
    val dist = Ranks.groupedRunningSum(few, col("grp"), col("v"), "s",
      0L, -1L, -1L, col("id"))
    assert(windowNodes(dist).isEmpty,
      "few-huge-groups input must take the distributed path")
    val ref = Ranks.groupedRunningSum(few, col("grp"), col("v"), "s",
      col("id")) // small-input window reference
    assert(dist.select("id", "s").exceptAll(ref.select("id", "s")).isEmpty &&
      ref.select("id", "s").exceptAll(dist.select("id", "s")).isEmpty)
  }

  test("groupedRunningSum cardinality routing costs no extra source scan: " +
      "the router reads the distributed path's own shuffle output (round " +
      "15 — the approx_count_distinct probe was a full second pass)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("grp", StringType), StructField("v", LongType)))
    // Source-materialization counter: every job that reads the SOURCE
    // (not the shuffle files) bumps the accumulator once per row —
    // shuffle-output readers (router job 0, the stats job, the final
    // prefix-sum job) reuse the completed map stage and leave it alone.
    def counted(nGroups: Int) = {
      val acc = spark.sparkContext.longAccumulator("src_rows")
      val rdd = spark.sparkContext.parallelize(1 to 9000, 4)
        .map { i => acc.add(1L); Row(i.toLong, s"g${i % nGroups}",
          (i % 7).toLong) }
      (spark.createDataFrame(rdd, schema), acc)
    }
    // FEW huge groups → distributed path: TWO source passes total —
    // repartitionByRange's boundary-sampling pass plus the shuffle write;
    // routing + stats + output all read the SHUFFLE, not the source. (The
    // round-14 approx_count_distinct probe made this three.)
    val (few, accFew) = counted(3)
    val outFew = Ranks.groupedRunningSum(few, col("grp"), col("v"), "s",
      0L, -1L, -1L, col("id"))
    assert(outFew.count() == 9000)
    assert(accFew.value == 18000L,
      s"distributed route is priced at two source passes (range sample + " +
        s"shuffle), saw ${accFew.value}")
    // MANY small groups → fail-open to the window: the two routing-shuffle
    // passes plus the window's own — never a group-cardinality-sized
    // driver collect.
    val (many, accMany) = counted(4000)
    val outMany = Ranks.groupedRunningSum(many, col("grp"), col("v"), "s",
      0L, -1L, 1000L, col("id"))
    assert(outMany.count() == 9000)
    assert(accMany.value == 27000L,
      s"fail-open route is priced at three source passes, saw ${accMany.value}")
    // Results unchanged vs the small-input window reference on both.
    val refFew = Ranks.groupedRunningSum(few, col("grp"), col("v"), "s",
      col("id")).select("id", "s")
    assert(outFew.select("id", "s").exceptAll(refFew).isEmpty &&
      refFew.exceptAll(outFew.select("id", "s")).isEmpty)
  }
}
