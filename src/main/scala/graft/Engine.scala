package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, ExprId, Expression, Literal, UserDefinedExpression}
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
  *
  * A session's repeated texts reuse their rewritten, analyzed plan (the
  * plan cache, [[PlanCache]]): a hit skips the pre-pass, parse, analysis and
  * rewrites, while optimization — and with it `now()`/`today()` — runs on
  * every call. Each session keeps at most [[PlanCache.MaxEntries]] plans,
  * least recently used evicted first. An entry is keyed by the SQL text and
  * the session's set confs (`SQLConf.getAllConfs`: the symmetric-EXCEPT
  * flag, the broadcast threshold, the time zone analysis bakes into casts,
  * case sensitivity, ANSI mode, ...). It is served only while every temp
  * view it references still maps to the same catalog entry, so a view that
  * is re-registered or dropped, through `Engine` or not, is never served
  * stale; `registerTempTable`/`removeTempTable` also drop the name's entries
  * at once. Plans that are not safe to share are never cached: a leaf other
  * than a `LocalRelation`, `OneRowRelation` or CTE reference (catalog
  * tables and file scans, also under a temp view, carry their session, and
  * a cached plan must not keep its session alive), a nondeterministic
  * expression (`rand()` would replay its seed) or a UDF (a re-registered
  * UDF would be served stale). [[planCacheStats]] counts each decision.
  */
object Engine {

  /** Bind a DataFrame to a SQL-visible name.
    * Reference: `register_temp_table` (`sql_select_query.py:15-39`). */
  def registerTempTable(df: DataFrame, name: String): Unit = {
    df.createOrReplaceTempView(name)
    PlanCache.evict(df.sparkSession, name)
  }

  /** Unbind a previously registered name. Unknown names throw, matching the
    * reference, which propagates the underlying registry's error instead of
    * silently no-opping (`sql_select_query.py:42-61`). */
  def removeTempTable(spark: SparkSession, name: String): Unit = {
    PlanCache.evict(spark, name)
    if (!spark.catalog.dropTempView(name))
      throw new IllegalArgumentException(
        s"Table $name is not registered: cannot remove")
  }

  /** Conf key for the opt-in reference EXCEPT compat mode. */
  val SymmetricExceptKey = "spark.graft.compat.symmetricExcept"

  /** Parse + plan a SELECT against the registered tables; lazy result.
    * Reference: `query` (`sql_select_query.py:64-96`). The three plan
    * rewrites below each map the analyzed plan to a plan; the result is
    * wrapped in one Dataset, and only when something changed. A repeated
    * text is served from the session's [[PlanCache]]. */
  def query(spark: SparkSession, sql: String): DataFrame =
    PlanCache.through(spark, sql) {
      val df = spark.sql(Dialect.rewrite(sql))
      val analyzed = df.queryExecution.analyzed
      val plan = namingParity(singlePartition(spark,
        symmetricExceptCompat(spark, analyzed)))
      if (plan eq analyzed) df else GraftBridge.ofRows(spark, plan)
    }

  /** What the session's plan cache decided so far: one outcome per
    * [[query]] call, and the entries it holds now. */
  final case class PlanCacheStats(entries: Int, outcomes: Map[String, Long]) {
    def apply(outcome: String): Long = outcomes.getOrElse(outcome, 0L)
  }

  def planCacheStats(spark: SparkSession): PlanCacheStats =
    PlanCache.stats(spark)

  /** The per-session LRU of rewritten, analyzed plans behind [[query]].
    * Every call has exactly one outcome:
    *   - `hit`: a valid entry was served;
    *   - `miss`: the plan was built and stored;
    *   - `stale view`: an entry was found, but a temp view it references
    *     now maps to another catalog entry (or none); the plan is rebuilt
    *     and stored in its place;
    *   - `non-local leaf`, `nondeterministic`, `udf`: the plan was built
    *     and not stored (see the object doc of [[Engine]]).
    *
    * A hit hands out a copy of the stored tree: `Dataset` adds its id to
    * the root's `DATASET_ID_TAG`, and a shared root would grow that set by
    * one on every hit. Thread-safe; a session's state is weakly keyed, so
    * the cache never keeps a session alive (its entries hold no session:
    * only local rows and catalog entries). */
  private[graft] object PlanCache {
    val MaxEntries = 128

    /** The analyzed plan, and the catalog entry of each temp view (by
      * name) that its resolution read. */
    private final case class Entry(plan: LogicalPlan,
        views: Map[String, CatalogTable])

    private final class State {
      val entries = new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Any, Entry]): Boolean = size > MaxEntries
      }
      val outcomes = scala.collection.mutable.Map[String, Long]()
      def count(outcome: String): Unit =
        outcomes(outcome) = outcomes.getOrElse(outcome, 0L) + 1
    }

    private val states = new PerSession[State]

    /** Serve `sql` from the session's entries, or run `build` (the
      * uncached path of [[query]]) and store its analyzed plan if it is
      * safe to share. */
    def through(spark: SparkSession, sql: String)(build: => DataFrame)
        : DataFrame = {
      val key = (sql, GraftBridge.conf(spark).getAllConfs)
      val st = states.getOrElseUpdate(spark, new State)
      val found = st.synchronized(Option(st.entries.get(key)))
      val valid = found.filter(_.views.forall { case (name, desc) =>
        GraftBridge.tempViewMeta(spark, name).exists(_ eq desc) })
      valid.fold(miss(spark, st, key, found.isDefined, build)) { e =>
        st.synchronized(st.count("hit"))
        GraftBridge.ofRows(spark, e.plan.clone())
      }
    }

    /** Run `build` and store its analyzed plan under `key` if it is safe to
      * share; `stale` tells that an entry was found but rejected. */
    private def miss(spark: SparkSession, st: State, key: Any, stale: Boolean,
        build: => DataFrame): DataFrame = {
      val out = build
      val analyzed = out.queryExecution.analyzed
      val nodes = analyzed.collectWithSubqueries { case p => p }
      val exprs = nodes.flatMap(_.expressions)
      val bypass =
        if (nodes.exists {
          case _: Command => true
          // A CTE reference reads a definition inside the same plan.
          case _: LocalRelation | _: OneRowRelation | _: CTERelationRef => false
          case p => p.children.isEmpty
        }) Some("non-local leaf")
        else if (!exprs.forall(_.deterministic)) Some("nondeterministic")
        else if (exprs.exists(_.exists(_.isInstanceOf[UserDefinedExpression])))
          Some("udf")
        else None
      val entry = if (bypass.isDefined) None else Some(Entry(
        GraftBridge.withoutDatasetIds(analyzed),
        tempViews(analyzed).map(v => v.desc.identifier.table -> v.desc).toMap))
      st.synchronized {
        if (stale) st.entries.remove(key)
        entry.foreach(st.entries.put(key, _))
        st.count(bypass.getOrElse(if (stale) "stale view" else "miss"))
      }
      out
    }

    /** The temp views whose catalog entries resolution read: those in the
      * plan, subqueries included, but not those inside a view stored as a
      * plan (a `Dataset` view), whose own references were fixed when it was
      * registered. A view stored as SQL text is resolved again on every
      * analysis, so the views it names count too. */
    private def tempViews(p: LogicalPlan): Seq[View] = p match {
      case v: View if v.isTempView =>
        v +: (if (v.desc.viewText.isDefined) tempViews(v.child) else Nil)
      case _ => (p.children ++ p.subqueries).flatMap(tempViews)
    }

    /** Drop every entry that references the temp view `name` (case
      * insensitive: dropping more than needed only costs a miss), so a
      * replaced frame's rows are not pinned until LRU eviction. */
    def evict(spark: SparkSession, name: String): Unit =
      states.get(spark).foreach { st =>
        st.synchronized(st.entries.values.removeIf(
          _.views.keys.exists(_.equalsIgnoreCase(name))))
      }

    def stats(spark: SparkSession): PlanCacheStats = {
      val st = states.getOrElseUpdate(spark, new State)
      st.synchronized(PlanCacheStats(st.entries.size, st.outcomes.toMap))
    }
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

/** State hung on a session without keeping it alive: entries are weakly
  * keyed by session identity, so a session that is no longer used (and its
  * temp views) can be collected. A value must not refer to its session, or
  * it would keep its own key reachable. */
private[graft] final class PerSession[V] {
  private val m = new java.util.WeakHashMap[SparkSession, V]()

  def get(spark: SparkSession): Option[V] = m.synchronized(Option(m.get(spark)))

  def put(spark: SparkSession, v: V): Unit = m.synchronized(m.put(spark, v))

  def getOrElseUpdate(spark: SparkSession, v: => V): V = m.synchronized {
    val cur = m.get(spark)
    if (cur != null) cur else { val n = v; m.put(spark, n); n }
  }
}
