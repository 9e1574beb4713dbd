package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, EqualTo, ExprId, Expression, Literal, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.{BaseSubqueryExec, ExecSubqueryExpression, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{DateType, MetadataBuilder, StringType, TimestampNTZType, TimestampType}

import java.lang.ref.WeakReference
import scala.util.Try

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
  * codegen for free. The single-partition path plans a plan whose leaves
  * are all `LocalRelation`s, together at most
  * `spark.sql.autoBroadcastJoinThreshold`, in one partition with no
  * Exchange (see [[singlePartition]]), a top-k `ORDER BY … LIMIT`
  * included, and its `collect`, `take` and `toLocalIterator` run no job:
  * the one partition is iterated in the calling thread
  * (`GraftBridge.ofLocal`). A write, `.rdd` or a frame derived from it
  * (`count`, `show`, `limit`, ...) still runs one job. The returned
  * DataFrame is lazy; callers choose the action/sink — unlike the
  * reference, which eagerly materializes a pandas frame per query.
  *
  * A session's repeated texts reuse their rewritten, analyzed plan (the
  * plan cache, [[PlanCache]]): a hit skips the pre-pass, parse, analysis and
  * rewrites. Where it is safe, hits after the first also reuse one
  * template's optimized, physical and executed plans, and pay only their
  * run (no job on collect for a single-partition plan); a plan with
  * `now()`/`today()` or another value the optimizer fixes per call, or
  * with an Exchange, is optimized on every call (eligibility
  * and lifetime: [[PlanCache]]). Each session keeps at most
  * [[PlanCache.MaxEntries]] plans, least recently used evicted first. An
  * entry is keyed by the SQL text and the session's set confs
  * (`SQLConf.getAllConfs`: the symmetric-EXCEPT flag, the broadcast
  * threshold, the time zone analysis bakes into casts, case sensitivity,
  * ANSI mode, ...). It is served only while every temp view it references
  * still maps to the same catalog entry, so a view that is re-registered or
  * dropped, through `Engine` or not, is never served stale;
  * `registerTempTable`/`removeTempTable` also drop the name's entries at
  * once. Plans that are not safe to share are never cached: a leaf other
  * than a `LocalRelation`, `OneRowRelation` or CTE reference (catalog
  * tables and file scans, also under a temp view, carry their session, and
  * a cached plan must not keep its session alive), a nondeterministic
  * expression (`rand()` would replay its seed) or a typed literal of a
  * special datetime value (`timestamp 'now'`, which the parser fixes), or
  * a UDF (a re-registered UDF would be served stale). [[planCacheStats]]
  * counts each decision.
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
      val symmetric = symmetricExceptCompat(spark, analyzed)
      val single = singlePartition(spark, symmetric)
      val plan = namingParity(single)
      if (plan eq analyzed) df
      // The symmetric EXCEPT reads each side twice: only a full analysis
      // gives the two copies distinct attributes.
      else PlanCache.frame(spark,
        if (symmetric ne analyzed) plan else GraftBridge.checked(spark, plan),
        local = single ne symmetric)
    }

  /** What the session's plan cache decided so far: one outcome per
    * [[query]] call, the entries it holds now, and how many hits were served
    * `prepared`, over a stored template's executed plan. */
  final case class PlanCacheStats(entries: Int, outcomes: Map[String, Long],
      prepared: Long) {
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
    * one on every hit.
    *
    * Hits of an eligible entry are served prepared: their Datasets share
    * the optimized, physical and executed plans of a template, so a repeated
    * read skips optimization, physical planning, code generation and the
    * building of its RDDs, and pays only its run. A single-partition entry's
    * template is a local plan ([[frame]]): its prepared hits collect in the
    * calling thread with no job and no adaptive plan, so threads reading
    * the same text are not run one at a time by an adaptive plan's lock
    * (a run that finds the template's local route busy in another thread
    * runs as a job). An entry is eligible when its plan reads a temp view,
    * has no expression that the optimizer replaces with a value of the call
    * (see [[perCall]]), and its executed plan has nothing that one run
    * would hold for the next or share with a run beside it (see
    * [[shareable]]). The first hit decides, once per
    * entry: it plans the template and is served over it.
    *
    * A template holds its session, so it is not kept in the weakly keyed
    * session state (that would keep the session alive): it hangs on the
    * catalog entry of a temp view the plan reads, under a tag of its own,
    * and dies with that registration. The cache entry reaches it only
    * weakly, and drops it when the entry is evicted or replaced.
    * Thread-safe; a session's state is weakly keyed, so the cache never
    * keeps a session alive (its entries hold no session: only local rows
    * and catalog entries). */
  private[graft] object PlanCache {
    val MaxEntries = 128

    private val tagIds = new java.util.concurrent.atomic.AtomicLong

    /** The analyzed plan, and the catalog entry of each temp view (by
      * name) that its resolution read. `decided` turns true at the first
      * hit of a `preparable` entry, which may hang a template on the
      * registration of the first view under `tag` (and keeps that
      * registration in `host`, weakly). */
    private final class Entry(val plan: LogicalPlan, val local: Boolean,
        val views: Map[String, CatalogTable], preparable: Boolean) {
      @volatile var decided: Boolean = !preparable
      val tag =
        TreeNodeTag[QueryExecution](s"graft.planTemplate.${tagIds.incrementAndGet()}")
      @volatile var host = new WeakReference[LogicalPlan](null)

      def template: Option[QueryExecution] =
        Option(host.get).flatMap(h => h.synchronized(h.getTagValue(tag)))

      def drop(): Unit =
        Option(host.get).foreach(h => h.synchronized(h.unsetTagValue(tag)))
    }

    private final class State {
      val entries = new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Any, Entry]): Boolean =
          size > MaxEntries && { e.getValue.drop(); true }
      }
      val outcomes = scala.collection.mutable.Map[String, Long]()
      var prepared = 0L
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
        GraftBridge.tempView(spark, name).exists(_.tableMeta eq desc) })
      valid.fold(miss(spark, st, sql, key, found.isDefined, build)) { e =>
        val template = if (e.decided) e.template else None
        st.synchronized {
          st.count("hit")
          if (template.isDefined) st.prepared += 1
        }
        template match {
          case Some(t) => GraftBridge.reusing(t, e.plan.clone())
          case None if e.decided => frame(spark, e.plan.clone(), e.local)
          case None => decide(spark, e)
        }
      }
    }

    /** The first hit of a preparable entry: plan the hit's execution now
      * and keep it as the template, on the registration of the entry's first
      * view, if its executed plan is [[shareable]]. */
    private def decide(spark: SparkSession, e: Entry): DataFrame =
      e.synchronized {
        val df = frame(spark, e.plan.clone(), e.local)
        if (!e.decided) {
          val qe = df.queryExecution
          val (name, desc) = e.views.head
          for (h <- GraftBridge.tempView(spark, name) if (h.tableMeta eq desc) &&
               Try(shareable(qe.executedPlan)).getOrElse(false)) {
            h.synchronized(h.setTagValue(e.tag, qe))
            e.host = new WeakReference(h)
          }
          e.decided = true
        }
        df
      }

    /** The one doorway from a rewritten plan to its Dataset, for misses,
      * first hits and unprepared hits alike: a plan that the
      * single-partition rewrite changed (`local`) collects in the calling
      * thread (`GraftBridge.ofLocal`), and a template planned from it holds
      * that local executed plan for its prepared hits. */
    def frame(spark: SparkSession, plan: LogicalPlan, local: Boolean): DataFrame =
      if (local) GraftBridge.ofLocal(spark, plan) else GraftBridge.ofRows(spark, plan)

    /** Run `build` and store its analyzed plan under `key` if it is safe to
      * share; `stale` tells that an entry was found but rejected. */
    private def miss(spark: SparkSession, st: State, sql: String, key: Any,
        stale: Boolean, build: => DataFrame): DataFrame = {
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
        else if (!exprs.forall(_.deterministic) ||
            SpecialDatetimeLiteral.findFirstIn(sql).isDefined) Some("nondeterministic")
        else if (exprs.exists(_.exists(_.isInstanceOf[UserDefinedExpression])))
          Some("udf")
        else None
      val entry = if (bypass.isDefined) None else {
        val views =
          tempViews(analyzed).map(v => v.desc.identifier.table -> v.desc).toMap
        Some(new Entry(GraftBridge.withoutDatasetIds(analyzed),
          GraftBridge.isLocal(out), views,
          preparable = views.nonEmpty && !exprs.exists(perCall)))
      }
      st.synchronized {
        if (stale) Option(st.entries.remove(key)).foreach(_.drop())
        entry.foreach(st.entries.put(key, _))
        st.count(bypass.getOrElse(if (stale) "stale view" else "miss"))
      }
      out
    }

    /** A typed literal of a special datetime value (`timestamp 'now'`,
      * `date 'today'`): the parser replaces it with the value of the call,
      * so the analyzed plan would hold the time of the miss. Matched on the
      * text, where it still shows; a match inside a string literal only
      * costs a bypass. */
    private val SpecialDatetimeLiteral =
      """(?i)\b(date|timestamp(_ntz|_ltz)?)\s*'\s*(now|today|yesterday|tomorrow)\s*'""".r

    /** An expression that the optimizer replaces with a value of the call,
      * so an optimized plan of it must not be reused: the clock
      * (`ComputeCurrentTime`: `now()`, `current_date()`, ...), the current
      * database, catalog and user (`ReplaceCurrentLike`), and a constant
      * string cast to a date or timestamp, which may be a special value such
      * as `'now'` (`SpecialDatetimeValues`). */
    private def perCall(e: Expression): Boolean =
      e.containsPattern(CURRENT_LIKE) || e.exists {
        case c: Cast => c.child.foldable && c.child.dataType == StringType &&
          (c.dataType match {
            case DateType | TimestampType | TimestampNTZType => true
            case _ => false
          })
        case _ => false
      }

    /** Whether an executed plan may run again and beside itself with
      * nothing held from one run to the next: no Exchange (a shuffle's files
      * or a broadcast would be pinned and shared), no broadcast join and no
      * subquery. Single-partition plans and zero-job plans qualify. */
    private def shareable(plan: SparkPlan): Boolean =
      AqeWalk.find(plan) { p =>
        p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec] ||
          p.isInstanceOf[BroadcastHashJoinExec] ||
          p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          p.isInstanceOf[BaseSubqueryExec] ||
          p.expressions.exists(_.exists(_.isInstanceOf[ExecSubqueryExpression]))
      }.isEmpty

    /** Walks an executed plan through adaptive plans and query stages. */
    private object AqeWalk extends AdaptiveSparkPlanHelper

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
        st.synchronized(st.entries.values.removeIf { e =>
          val reads = e.views.keys.exists(_.equalsIgnoreCase(name))
          if (reads) e.drop()
          reads
        })
      }

    def stats(spark: SparkSession): PlanCacheStats = {
      val st = states.getOrElseUpdate(spark, new State)
      st.synchronized(PlanCacheStats(st.entries.size, st.outcomes.toMap, st.prepared))
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

  /** Small in-memory plans run in one partition: collected with no job
    * (see [[PlanCache.frame]]), written as one job, one stage, one task. The
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
    * A top-k `ORDER BY … LIMIT` counts too: over the one partition its
    * `TakeOrderedAndProjectExec` collects in the calling thread, where over
    * the local scan's several partitions it runs a job.
    *
    * Everything else keeps Spark's plan: pure project/filter/limit plans
    * (which `ConvertToLocalRelation` already runs with zero jobs),
    * file-backed, cached, streaming and mixed plans, and plans that carry
    * their own hints. */
  private def singlePartition(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val leaves = nodes.filter(_.children.isEmpty)
    val needsDistribution = nodes.exists {
      case _: Aggregate | _: Window | _: Join | _: Distinct | _: Deduplicate |
          _: Union | _: Except | _: Intersect | _: Sort => true
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
