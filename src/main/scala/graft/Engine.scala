package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{DateType, MetadataBuilder, TimestampNTZType, TimestampType}

/** Public API mirroring the reference's three-call surface (reference
  * `dataframe_sql/__init__.py:3`, `dataframe_sql/sql_select_query.py:15-96`):
  * register/remove named tables and run SQL against them.
  *
  * Spark-first design: tables live in the session temp-view catalog (an
  * analyzed LogicalPlan each — nothing is materialized at registration), and
  * `query` is a Dialect pre-pass, `spark.sql`, then one pass of plan
  * rewrites over the analyzed plan (reference output naming, the opt-in
  * symmetric EXCEPT, and the single-partition path for small in-memory
  * frames), so every statement gets Catalyst analysis/optimization
  * (predicate pushdown, column pruning, join selection, AQE) and Tungsten
  * codegen for free. The single-partition path runs a plan whose leaves
  * are all `LocalRelation`s, together at most
  * `spark.sql.autoBroadcastJoinThreshold`, as one job with no Exchange
  * (see [[singlePartition]]). The returned DataFrame is lazy; callers
  * choose the action/sink — unlike the reference, which eagerly
  * materializes a pandas frame per query.
  */
object Engine {

  /** Bind a DataFrame to a SQL-visible name.
    * Reference: `register_temp_table` (`sql_select_query.py:15-39`). */
  def registerTempTable(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** Unbind a previously registered name. Unknown names throw, matching the
    * reference, which propagates the underlying registry's error instead of
    * silently no-opping (`sql_select_query.py:42-61`). */
  def removeTempTable(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.dropTempView(name))
      throw new IllegalArgumentException(
        s"Table $name is not registered: cannot remove")

  /** Conf key for the opt-in reference EXCEPT compat mode. */
  val SymmetricExceptKey = "spark.graft.compat.symmetricExcept"

  /** Parse + plan a SELECT against the registered tables; lazy result.
    * Reference: `query` (`sql_select_query.py:64-96`). The three plan
    * rewrites below each map the analyzed plan to a plan; the result is
    * wrapped in one Dataset, and only when something changed. */
  def query(spark: SparkSession, sql: String): DataFrame = {
    val df = spark.sql(Dialect.rewrite(sql))
    val analyzed = df.queryExecution.analyzed
    val plan = namingParity(singlePartition(spark,
      symmetricExceptCompat(spark, analyzed)))
    if (plan eq analyzed) df else GraftBridge.ofRows(spark, plan)
  }

  /** Opt-in porting compat: the reference's `EXCEPT [DISTINCT]` is a
    * SYMMETRIC difference (rows in exactly one side —
    * `tests/pandas_sql_functionality_test.py:590-614`), not ANSI EXCEPT.
    * The engine ships ANSI semantics by default (SURVEY.md §2.8 decision —
    * matches every SQL engine and the DuckDB oracle); setting
    * `spark.graft.compat.symmetricExcept=true` rewrites each distinct
    * `Except` in an [[query]] plan to `(l EXCEPT r) UNION ALL (r EXCEPT l)`
    * — the branches are each distinct and mutually disjoint, so the union
    * needs no extra dedup shuffle. `EXCEPT ALL` (no reference semantics to
    * mirror) stays ANSI either way. */
  private def symmetricExceptCompat(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.getOption(SymmetricExceptKey).exists(_.toBoolean)) plan
    // transformUp: freshly built Except nodes must not be re-rewritten.
    else plan.transformUp {
      case Except(l, r, false) =>
        Union(Seq(Except(l, r, isAll = false), Except(r, l, isAll = false)),
          byName = false, allowMissingCol = false)
    }

  /** Small in-memory plans run as one job, one stage, one task. The
    * reference's workload is `query` over registered frames of a few
    * hundred rows, where Spark's fixed costs dominate: a group-by plans a
    * shuffle (two jobs and an AQE re-plan between them) and a join plans a
    * broadcast (a job of its own). The path applies when every leaf,
    * subqueries included, is a `LocalRelation`, their summed size is at
    * most `spark.sql.autoBroadcastJoinThreshold` (Spark's own "small
    * enough to ship whole" bound; `-1` turns the path off along with
    * broadcasting), and some operator requires a data distribution:
    *
    *   - each leaf is wrapped in `Repartition(1, shuffle = false)`; the
    *     resulting `SinglePartition` satisfies every clustered, all-tuples
    *     and ordered distribution, so `EnsureRequirements` plans no
    *     Exchange;
    *   - each equi-join's inputs get a `SHUFFLE_HASH` hint, so the hash
    *     table is built inside the one task instead of by a broadcast job;
    *   - a distinct `EXCEPT`/`INTERSECT` becomes one aggregation over the
    *     union of its side-tagged inputs. Spark plans them as anti/semi
    *     joins, which the optimizer pushes below the left leaf's
    *     `Repartition`, so they would still broadcast.
    *
    * Everything else keeps Spark's plan: pure project/filter/limit plans
    * (which `ConvertToLocalRelation` already runs with zero jobs), top-k
    * `ORDER BY … LIMIT` (one job already), file-backed, cached, streaming
    * and mixed plans, and plans that carry their own hints. */
  private def singlePartition(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val leaves = nodes.filter(_.children.isEmpty)
    // ORDER BY + LIMIT plans as TakeOrderedAndProject, which needs no
    // distribution: one job either way, so the rewrite would only add cost.
    val topK = nodes.collect {
      case LocalLimit(_, s: Sort) => s
      case LocalLimit(_, Project(_, s: Sort)) => s
    }
    val needsDistribution = nodes.exists {
      case _: Aggregate | _: Window | _: Join | _: Distinct | _: Deduplicate |
          _: Union | _: Except | _: Intersect => true
      case s: Sort => !topK.exists(_ eq s)
      case _ => false
    }
    val small = leaves.forall(_.isInstanceOf[LocalRelation]) &&
      leaves.map(_.stats.sizeInBytes).sum <=
        GraftBridge.conf(spark).autoBroadcastJoinThreshold
    if (!small || !needsDistribution || nodes.exists(_.isInstanceOf[ResolvedHint]))
      return plan
    def hint(p: LogicalPlan) = ResolvedHint(p, HintInfo(Some(SHUFFLE_HASH)))
    plan.transformUpWithSubqueries {
      case l: LocalRelation => Repartition(1, shuffle = false, l)
      case j: Join if ExtractEquiJoinKeys.unapply(j).isDefined =>
        j.copy(left = hint(j.left), right = hint(j.right))
      case Except(l, r, false) => setAggregate(l, r, intersect = false)
      case Intersect(l, r, false) => setAggregate(l, r, intersect = true)
    }
  }

  /** Distinct `l EXCEPT r` / `l INTERSECT r` as `Aggregate` over
    * `l UNION ALL r` with each row tagged by its side (1 or 2): a key
    * whose tags are all 1 is only in `l`; min 1 and max 2 is in both.
    * Grouping treats nulls as equal, as the set operators do, and the
    * result keeps `l`'s attributes. */
  private def setAggregate(l: LogicalPlan, r: LogicalPlan,
      intersect: Boolean): LogicalPlan = {
    def tagged(p: LogicalPlan, side: Int) =
      Project(p.output :+ Alias(Literal(side), "side")(), p)
    val u = Union(tagged(l, 1), tagged(r, 2))
    val (keys, side) = (u.output.init, u.output.last)
    val lo = Alias(Min(side).toAggregateExpression(), "lo")()
    val hi = Alias(Max(side).toAggregateExpression(), "hi")()
    val keep =
      if (intersect) And(EqualTo(lo.toAttribute, Literal(1)), EqualTo(hi.toAttribute, Literal(2)))
      else EqualTo(hi.toAttribute, Literal(1))
    Project(l.output, Filter(keep, Aggregate(keys, keys ++ Seq(lo, hi), u)))
  }

  /** Reference output-naming conventions, applied as one projection over
    * the analyzed plan:
    *
    *   - un-aliased select expressions are auto-named positionally
    *     (reference `tests/pandas_sql_functionality_test.py:206-213`,
    *     `:271-277`): `_colN` in general, but the time functions keep their
    *     own names — `now()`, `today()` — and a constant temporal literal
    *     (the two-arg `timestamp()` form) is `_literalN`, all sharing ONE
    *     positional counter (`:1008-1015`: `now(), today(), timestamp(…)` →
    *     `now()`, `today()`, `_literal2`). Detection: the analyzer marks
    *     aliases it invents for `UnresolvedAlias` expressions with
    *     `__autoGeneratedAlias` metadata on the output attribute —
    *     user-written aliases (bare OR quoted, e.g. `as "max temp"`) never
    *     originate it, so they are kept verbatim. `_literalN` stays scoped
    *     to foldable temporal expressions — the only literal family the
    *     reference pins — so ordinary un-aliased arithmetic keeps `_colN`.
    *   - name-clashing output columns (e.g. `select *` over a join of tables
    *     sharing a non-key column) are disambiguated as `<table>.<col>` from
    *     the attribute's qualifier (reference `tests/utils.py:48-90`,
    *     `tests/pandas_sql_functionality_test.py:434-453`). Columns that are
    *     unique stay unprefixed, matching the reference.
    *
    * The projection also STRIPS the `__autoGeneratedAlias` marker from every
    * output: Spark inherits attribute metadata through user aliases, so a
    * marker that survived into a registered result would make a later
    * `select _col0 as x from t` silently clobber `x` back to `_colN` on the
    * chained query→register→query path. */
  private def namingParity(plan: LogicalPlan): LogicalPlan = {
    val out = plan.output
    val names = out.map(_.name)
    // Alias children by exprId, to classify what an auto-generated alias is
    // actually naming (time function vs temporal literal vs other). Collected
    // from EVERY plan node, not just the root: a trailing LIMIT/ORDER BY/set
    // op roots the plan at a non-Project node and the select-list aliases
    // live below it.
    val aliasChild: Map[ExprId, Expression] = plan.collect {
      case node => node.expressions.flatMap {
        _.collect { case a: Alias => a.exprId -> a.child }
      }
    }.flatten.toMap
    val clashing = names.groupBy(_.toLowerCase).collect {
      case (k, vs) if vs.size > 1 => k
    }.toSet
    // "Literal" = depends on no input column (ParseToTimestamp of a constant
    // is NOT foldable in Spark, so foldable would miss the reference's
    // two-arg timestamp() — the one pinned _literalN producer).
    def isTemporalLiteral(e: Expression): Boolean =
      e.references.isEmpty && (e.dataType match {
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      })
    var n = -1
    val renamed = out.map { a =>
      if (a.metadata.contains("__autoGeneratedAlias")) {
        n += 1
        a.name match {
          case "now()" => "now()"
          // Dialect rewrites the reference's today() to current_date().
          case "current_date()" => "today()"
          case _ if aliasChild.get(a.exprId).exists(isTemporalLiteral) =>
            s"_literal$n"
          case _ => s"_col$n"
        }
      } else if (clashing(a.name.toLowerCase) && a.qualifier.nonEmpty) {
        s"${a.qualifier.last}.${a.name}"
      } else a.name
    }
    val marked = out.exists(_.metadata.contains("__autoGeneratedAlias"))
    if (renamed == names && !marked) plan
    else Project(out.zip(renamed).map { case (a, nm) =>
      val meta = new MetadataBuilder().withMetadata(a.metadata)
        .remove("__autoGeneratedAlias").build()
      Alias(a, nm)(explicitMetadata = Some(meta))
    }, plan)
  }
}
