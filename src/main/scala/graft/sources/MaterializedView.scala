package graft.sources

import java.util.Locale

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** INCREMENTAL MATERIALIZED VIEWS over the connector's change feed — the
  * derived-table half of the lakehouse: a stored aggregate whose refresh
  * costs the CHANGE RATE, not the table size.
  *
  * `CALL graft.create_materialized_view('mv', 'SELECT g, count(*) AS n,
  * sum(v) AS sv, avg(v) AS av FROM graft.t WHERE p GROUP BY g')` computes
  * the aggregate once at the source's current version V and stores it in a
  * file-backed graft table `mv__store`; `graft.mv` reads it through a
  * catalog view. `CALL graft.refresh_materialized_view('mv')` then
  * advances the view to the source's current version by reading the
  * row-level change events of the window `(watermark, current]`
  * ([[MemChangesSource]]), folding them into per-group DELTAS (insert
  * events count +1, delete events −1 — classic incremental view
  * maintenance over a delta stream), and MERGEing the deltas into the
  * store in one atomic copy-on-write commit that rewrites only the
  * batches holding touched groups. At 100 TB this is the whole point:
  * a nightly refresh of a revenue rollup reads the day's commits — not
  * the table — and rewrites only the groups the day touched.
  *
  * SELF-MAINTAINABILITY is what bounds the supported aggregate set:
  * `count(*)`, `count(x)`, `sum(x)`, `avg(x)` are maintainable under both
  * inserts and deletes from the delta alone (sum/avg ride stored
  * `sum`+`count` components; a group whose stored `count(*)` reaches zero
  * is deleted). `min`/`max` are maintainable only under INSERT-ONLY
  * windows — deleting the current extreme forces a group rescan — so a
  * min/max view folds incrementally while the window's version kinds are
  * all pure appends and falls back to a loud full recompute the moment a
  * row-removing commit appears (checked against the version ledger, no
  * data scan). DISTINCT aggregates and the rest (median, stddev, ...) are
  * rejected at create time. The view projection reconstructs the declared
  * columns from the components (`avg = sum / count`, `sum` is NULL when
  * its non-null count is zero), so reads see exactly the declared query's
  * semantics.
  *
  * EXACTLY-ONCE refresh across crashes, with two commit planes (the store
  * table's MERGE and this registry's watermark) that cannot be written
  * atomically together, rides a WRITE-INTENT protocol: the refresh
  * journal (`mv.json` beside the store's `metadata.json`, atomic
  * tmp+rename like all graft metadata) records `pending = (from, to,
  * store-version-before)` BEFORE the merge and clears it with the
  * advanced watermark after. A crash between merge-commit and
  * watermark-write is detected at the next refresh (pending set, store
  * version advanced past the recorded one) and repaired by rolling the
  * store back to the pre-merge snapshot ([[MemTables.rollback]]) and
  * re-applying the window — double-application is structurally
  * impossible. The journal also makes the MV durable: on a registry miss
  * the store table recovers from disk ([[MemTables.get]]) and `mv.json`
  * rebuilds the registry entry and the catalog view.
  *
  * If the watermark has aged out of the source's retention
  * (`expire_snapshots` past it), incremental refresh is impossible and
  * the refresh falls back to a FULL recompute at the current version
  * (one `INSERT OVERWRITE`, same intent protocol) — the fallback is
  * reported in the result row's `mode`, never silent.
  *
  * The scale levers compose with the rest of the connector: the store is
  * an ordinary file-backed graft table, so `rewrite_data_files` can
  * cluster it, bloom registers can skip on it, and the MERGE's group
  * rewrite is proportional to touched groups via the runtime group
  * filter. Reference scope note: the reference pipeline has no derived
  * tables at all (its `jobs/transform.py` recomputes aggregates per run);
  * this surface is part of the 100 TB extension mandate.
  *
  * CONCURRENCY SCOPE — SINGLE DRIVER per warehouse. The per-MV mutex and
  * the registry are JVM-local while the store table and refresh journal
  * are shared files: two driver processes over the same warehouse root
  * could interleave create/refresh (one writes the intent, the other
  * merges), and the write-intent repair would then roll back or re-apply
  * a window it does not own — the journal is a crash log, not a
  * cross-process lock. This matches the rest of the mem-table plane
  * (every table mutation serializes on a JVM-local monitor); a
  * multi-driver warehouse needs a lease file (or CAS on the journal)
  * taken before refresh, which is exactly where that lock would go.
  */
object MatViews {

  /** Suffix of the backing store table's key: `<mv>__store`. */
  val StoreSuffix = "__store"
  /** Table property tagging a backing store with its owning MV's name —
    * the write/drop guard's anchor (persisted in the store's durable
    * metadata, so the guard survives restart and disk recovery).
    */
  val StoreProp = "graft.mv-store"
  /** Refresh journal file, beside the store table's `metadata.json`. */
  val JournalName = "mv.json"
  /** Internal rowcount component column — `count(*)` per group, the
    * group-liveness witness (a group is deleted when it reaches zero).
    */
  val RowCountCol = "__mv_n"

  private val SignCol = "__graft_mv_sign"

  /** Every N-th refresh of an MV with DOUBLE-typed sum/avg components
    * recomputes in full instead of folding deltas — the float-drift
    * bound (integral sums are exact and never need it).
    */
  val FloatDriftFullEvery = 64

  final case class GroupCol(out: String, exprSql: String)
  /** kind ∈ countstar | count | sum | avg; `argSql` empty for countstar. */
  final case class AggSpec(kind: String, argSql: String, out: String)
  final case class Pending(from: Long, to: Long, storeVersionBefore: Long)
  /** One JOINED source of a star-schema MV (tables 2..n of a left-deep
    * join chain): its identity/watermark pair plus the ON condition text
    * joining it to everything accumulated to its left. `joinType` is
    * INNER for plain chain steps, or LEFT / RIGHT / FULL for outer steps
    * (any position, several allowed) — incremental maintenance then also
    * emits the compensating ±null-extension rows as rows flip between
    * matched and unmatched: prefix-side flips for LEFT/FULL (the
    * anti-delta flip terms in [[refresh]]), dim-side flips for
    * RIGHT/FULL (the right-flip terms, prefix null-extended whole).
    * Freshness requires EVERY source at its recorded watermark.
    */
  final case class MvJoin(key: String, uuid: String, watermark: Long,
      condSql: String, joinType: String = "INNER")

  final case class MvState(
      name: String,
      srcKey: String,
      // the source's STABLE identity ([[MemTables.State.tableUuid]]):
      // refresh and the query rewrite compare this, never just the key —
      // a table dropped and re-created under the same name restarts its
      // version clock, and a coincidentally-equal clock must not let a
      // watermark (or a freshness check) mean anything against the NEW
      // table's history
      srcTableUuid: String,
      storeKey: String,
      definitionSql: String,
      viewSql: String,
      // the analyzed view schema as JSON: recovery re-registers the
      // catalog view WITHOUT an analysis pass (which would need the graft
      // catalog bound in whatever session happens to fault the MV in)
      viewSchemaJson: String,
      filterSql: Option[String],
      groups: Seq[GroupCol],
      aggs: Seq[AggSpec],
      watermark: Long,
      pending: Option[Pending],
      // incremental refreshes since the store was last recomputed in
      // full — bounds FLOAT DRIFT: a double-typed sum component
      // accumulates error across signed-delta merges (stored_sum + delta
      // is not the recomputed sum; delete-heavy chains can drift
      // arbitrarily through cancellation), so every
      // [[FloatDriftFullEvery]]-th refresh of such an MV forces
      // mode=full, re-anchoring the store at the exact recomputation
      deltaRefreshes: Int = 0,
      // JOINED sources (tables 2..n of a left-deep INNER chain) — empty
      // for single-table MVs
      joins: Seq[MvJoin] = Nil,
      // AUTO-REFRESH ('auto-refresh' create option): the connector's
      // streaming sink refreshes this MV after every epoch commit on any
      // of its sources, so a continuously-written table's MVs keep
      // serving with zero manual CALLs ([[autoRefreshFor]])
      autoRefresh: Boolean = false) {

    /** Store columns: group outs, then rowcount, then per-agg components
      * in declaration order (count → cnt; sum/avg → sum + cnt;
      * min/max → one extreme column each).
      */
    def componentCols: Seq[String] =
      groups.map(_.out) ++ Seq(RowCountCol) ++ aggs.flatMap {
        case AggSpec("countstar", _, _) => Nil
        case AggSpec("count", _, out) => Seq(s"__mv_cnt_$out")
        case AggSpec("min", _, out) => Seq(s"__mv_min_$out")
        case AggSpec("max", _, out) => Seq(s"__mv_max_$out")
        case AggSpec("cntd", _, out) => Seq(s"__mv_ndv_$out")
        case AggSpec(_, _, out) => Seq(s"__mv_sum_$out", s"__mv_cnt_$out")
      }

    /** min/max are maintainable from the delta ONLY under insert-only
      * change windows (a delete may remove the current extreme); their
      * presence makes refresh fall back to a full recompute whenever the
      * window holds a row-removing commit. count(DISTINCT) components
      * ([[hasDistinct]]) share exactly that rule: the stored NDV sketch
      * is a SET UNION — inserts fold (re-inserting a counted value is a
      * union no-op), but a delete cannot remove a value from it.
      */
    def hasExtremes: Boolean =
      aggs.exists(a => a.kind == "min" || a.kind == "max")

    /** count(DISTINCT x) components — stored as [[NdvSketch]] blobs:
      * EXACT serving while each group stays under the sketch's exact-mode
      * ceiling (2048 distinct values), documented ±2.3% beyond it.
      */
    def hasDistinct: Boolean = aggs.exists(_.kind == "cntd")

    /** Insert-only-window-only components (delta folding is impossible
      * the moment a window removes rows).
      */
    def insertOnlyComponents: Boolean = hasExtremes || hasDistinct

    def sumCols: Seq[String] = aggs.collect {
      case AggSpec(kind, _, out) if kind == "sum" || kind == "avg" => s"__mv_sum_$out"
    }
  }

  private[graft] val registry: TrieMap[String, MvState] = TrieMap.empty
  private val locks: TrieMap[String, Object] = TrieMap.empty
  private def lockFor(name: String): Object =
    locks.getOrElseUpdate(name, new Object)

  /** Re-entrant per-thread maintenance marker: the store-table guard
    * ([[assertStoreWritable]]/[[assertStoreDroppable]]) passes only under
    * this scope, so the create seed, refresh MERGE/overwrite, and the
    * MV's own reclaim mutate the store while every DIRECT user write —
    * which would corrupt the aggregate SILENTLY (the watermark still
    * reads fresh, so the rewrite keeps serving it and later incremental
    * refreshes merge onto the corrupted baseline) — fails loudly.
    */
  private val maintenanceDepth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))
  private def inMaintenance: Boolean = maintenanceDepth.get() > 0
  private def asMaintenance[A](f: => A): A = {
    maintenanceDepth.set(maintenanceDepth.get() + 1)
    try f finally maintenanceDepth.set(maintenanceDepth.get() - 1)
  }

  /** Reject every write path (append/overwrite/DML/truncate) against a
    * tagged MV store outside the MV machinery. Applies even when the
    * owning MV is unknown (an orphan store holds stale aggregate bytes —
    * nothing should write it; it can only be dropped).
    */
  private[sources] def assertStoreWritable(key: String, action: String): Unit =
    if (!inMaintenance)
      MemTables.get(key).flatMap(_.createProps.get(StoreProp)).foreach { mv =>
        throw new UnsupportedOperationException(
          s"table '$key' is the backing store of materialized view '$mv': " +
            s"a direct $action would silently corrupt the served aggregate " +
            "— maintain it with CALL graft.refresh_materialized_view" +
            s"('$mv') or remove it with CALL graft.drop_materialized_view('$mv')")
      }

  /** Reject DROP/RENAME TABLE of a store whose owning MV is LIVE
    * (registered or disk-recoverable) — it would strand the view. An
    * orphan store (crashed create, no recoverable MV) stays droppable:
    * `drop_materialized_view`'s own error message points users at
    * exactly that DROP TABLE.
    */
  private[sources] def assertStoreDroppable(key: String, action: String): Unit =
    if (!inMaintenance)
      MemTables.get(key).flatMap(_.createProps.get(StoreProp)).foreach { mv =>
        if (getOrRecover(mv).isDefined)
          throw new UnsupportedOperationException(
            s"table '$key' is the backing store of live materialized view " +
              s"'$mv': $action would strand the view — use " +
              s"CALL graft.drop_materialized_view('$mv')")
      }

  private def q(ident: String): String = "`" + ident.replace("`", "``") + "`"

  // ---------------------------------------------------------------- parse

  /** Version kinds whose commits add rows only (or touch no rows at
    * all) — the change window is a pure insert stream iff every version
    * in it carries one of these, which is what lets min/max components
    * fold incrementally.
    */
  private val InsertOnlyKinds: Set[String] =
    Set("create", "append", "stream-append", "alter", "replace-spec", "compact")

  /** Version kinds whose commits REMOVE rows only (or touch no rows /
    * preserve the row multiset) — the mirror of [[InsertOnlyKinds]] used
    * to prune provably-dead flip-term signs: across a remove-only window
    * a join match can only DIE, never be born. "delta"/"overwrite"/
    * "stream-upsert"/"rollback" stay mixed (they can add AND remove);
    * "rewrite" is multiset-preserving but is excluded here to mirror the
    * conservatism of the insert-only ledger above.
    */
  private val RemoveOnlyKinds: Set[String] =
    Set("create", "delete", "alter", "replace-spec", "compact")

  private def isKnownNonMaintainableAgg(fn: String): Boolean = Set(
    "first", "last", "any_value", "median", "mode",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "percentile", "percentile_approx", "approx_percentile",
    "approx_count_distinct", "collect_list", "collect_set", "count_if",
    "bool_and", "bool_or", "every", "any", "some", "skewness", "kurtosis",
    "corr", "covar_samp", "covar_pop").contains(fn)

  private def isAggName(fn: String): Boolean =
    fn == "count" || fn == "sum" || fn == "avg" || fn == "mean" ||
      fn == "min" || fn == "max" || isKnownNonMaintainableAgg(fn)

  /** Parse + validate the MV definition into its maintainable shape:
    * a single-block `SELECT groups, aggs FROM <graft table> [INNER JOIN
    * <graft table> ON ...]* [WHERE p] GROUP BY groups`. Everything
    * outside that shape fails HERE, at create — never at refresh.
    * Returns `(first table, join steps (table, ON text), filter, groups,
    * aggs)` — non-empty join steps make a JOIN MV.
    */
  private[sources] def parseDefinition(
      spark: SparkSession, mvName: String, sql: String):
      (String, Seq[(String, String, String)], Option[String], Seq[GroupCol], Seq[AggSpec]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Filter => LFilter}
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner}

    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"materialized view '$mvName': $msg")

    def fnName(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(Locale.ROOT)

    def hasAgg(e: Expression): Boolean = e.exists {
      case f: UnresolvedFunction => isAggName(fnName(f))
      case _ => false
    }

    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    val agg = plan match {
      case a: Aggregate => a
      case _ => fail("definition must be one aggregate block — SELECT " +
        "<group cols>, <count/sum/avg aggregates> FROM <graft table(s)> " +
        "[WHERE ...] GROUP BY <group cols> (no ORDER BY/LIMIT/" +
        "subqueries/CTEs)")
    }
    if (agg.groupingExpressions.isEmpty)
      fail("global aggregates (no GROUP BY) are not supported — add a GROUP BY")

    def tableKey(r: UnresolvedRelation): String = r.multipartIdentifier match {
      case Seq(n) => n
      case Seq(c, n) if c.equalsIgnoreCase("graft") => n
      case other => fail(s"source must be a graft catalog table, got '${other.mkString(".")}'")
    }
    // flatten a LEFT-DEEP inner-join chain (the shape un-parenthesized
    // `a JOIN b ON .. JOIN c ON ..` parses to): leftmost table, then
    // (table, ON text) steps — the structure refresh re-emits with
    // per-table VERSION AS OF pins ([[srcRelationSql]])
    def flattenFrom(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : (String, Seq[(String, String, String)]) = p match {
      case r: UnresolvedRelation => (tableKey(r), Nil)
      case j: Join =>
        val jt = j.joinType match {
          case Inner | Cross => "INNER" // USING/NATURAL carry their own types
          case org.apache.spark.sql.catalyst.plans.LeftOuter => "LEFT"
          case org.apache.spark.sql.catalyst.plans.RightOuter => "RIGHT"
          case org.apache.spark.sql.catalyst.plans.FullOuter => "FULL"
          case other => fail(s"${other.sql} joins are not supported in a " +
            "materialized view — INNER/LEFT/RIGHT/FULL OUTER joins of " +
            "graft tables only")
        }
        val right = j.right match {
          case r: UnresolvedRelation => tableKey(r)
          case _ => fail("joins must form a left-deep chain of graft " +
            "tables (no parenthesized right-side joins or subqueries)")
        }
        j.condition.foreach(c =>
          if (hasAgg(c)) fail("join conditions must not contain aggregates"))
        val cond = j.condition.map(_.sql).getOrElse("TRUE")
        val (first, steps) = flattenFrom(j.left)
        (first, steps :+ ((right, cond, jt)))
      case _ => fail("FROM must be a graft table or a join of graft tables")
    }
    val (srcKey, joinSteps, filterSql) = agg.child match {
      case f: LFilter =>
        if (hasAgg(f.condition)) fail("WHERE clause must not contain aggregates")
        val (k, s) = flattenFrom(f.child)
        (k, s, Some(f.condition.sql))
      case other =>
        val (k, s) = flattenFrom(other)
        (k, s, None)
    }
    val allKeys = srcKey +: joinSteps.map(_._1)
    allKeys.diff(allKeys.distinct).headOption.foreach(d =>
      fail(s"table '$d' appears more than once — self-joins are not supported"))
    // outer steps are allowed anywhere in the chain (several included):
    // refresh derives per-step anti-delta terms from the left-deep
    // recursion Δ(J ⟗ A) = Δ(J) ⟕ A@old + J@new ⟾ ΔA + L-flips +
    // R-flips — LEFT uses the first three pieces, RIGHT the last two
    // (its dim delta rides the reversed RIGHT JOIN keyword), FULL all
    // four; a RIGHT/FULL step's dim null-extensions empty the whole
    // multi-table prefix via per-table WHERE FALSE subqueries
    // join MVs: the INCREMENTAL refresh re-binds each changed source as a
    // table-name alias over its signed change feed, which resolves
    // `table.column` but not `catalog.table.column` (or deeper) — reject
    // 3+-part references at create, never at refresh
    if (joinSteps.nonEmpty) agg.flatMap(_.expressions).foreach {
      _.foreach {
        case a: UnresolvedAttribute if a.nameParts.length > 2 =>
          fail(s"reference '${a.sql}' has more than two name parts — join " +
            "materialized views support bare or table-qualified column " +
            "references only (incremental refresh re-binds table aliases)")
        case _ =>
      }
    }

    // TABLE-QUALIFIED column references break refresh: the stored
    // expression text is re-bound against the change-feed relation,
    // where a `t.col` qualifier (valid against FROM t at create)
    // resolves nowhere. Fail here, per this function's contract — but
    // only for true table qualifiers: `s.field` whose head IS a source
    // column is STRUCT access, which re-binds fine (the feed carries the
    // same columns). Unknown source (fails later in create) skips the
    // distinction and stays permissive.
    val srcColsLower: Set[String] = MemTables.get(srcKey)
      .map(_.schema.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSet)
      .getOrElse(Set.empty)
    // a head that is BOTH a source column and the table (or catalog)
    // name is ambiguous ACROSS the two binding contexts: `FROM graft.t`
    // resolves `t.f` as a table qualifier at create, while the refresh
    // temp view resolves it as struct access — same text, different
    // expression. Reject rather than silently corrupt.
    val ambiguousHeads: Set[String] =
      srcColsLower.intersect(Set(srcKey.toLowerCase(Locale.ROOT), "graft"))
    // unknown source: skip the qualifier/struct distinction — create
    // fails one step later with the accurate "source does not exist".
    // JOIN MVs skip it entirely: their maintenance is always a full
    // recompute re-binding against the SAME multi-table FROM (never a
    // change-feed view), so table qualifiers stay valid — and the probe
    // below rejects genuinely ambiguous references loudly
    if (joinSteps.isEmpty && srcColsLower.nonEmpty) agg.flatMap(_.expressions).foreach {
      _.foreach { // incl. the WHERE child's condition
        case a: UnresolvedAttribute if a.nameParts.length > 1 =>
          val head = a.nameParts.head.toLowerCase(Locale.ROOT)
          if (!srcColsLower.contains(head))
            fail(s"table-qualified column reference '${a.sql}' is not " +
              "supported — use bare column names (the definition is " +
              "re-bound against the change feed at refresh)")
          if (ambiguousHeads.contains(head))
            fail(s"reference '${a.sql}' is ambiguous: '${a.nameParts.head}' " +
              "names both a source column and the table/catalog — rename " +
              "the column or the table")
        case _ =>
      }
    }
    agg.groupingExpressions.foreach {
      case _: Literal => fail("GROUP BY ordinals are not supported — group by explicit expressions")
      case e if hasAgg(e) => fail("GROUP BY expressions must not contain aggregates")
      case _ =>
    }
    // nondeterministic / time-varying expressions re-bind DIFFERENTLY at
    // every refresh (a delete event would be sampled or time-sliced by a
    // different instantiation than its original insert), silently
    // corrupting the store — reject the shapes up front
    val unstableFns = Set("rand", "randn", "random", "uuid", "shuffle",
      "monotonically_increasing_id", "spark_partition_id", "input_file_name",
      "now", "current_timestamp", "current_date", "localtimestamp",
      "current_timezone", "session_user", "current_user")
    agg.flatMap(_.expressions).foreach {
      _.foreach {
        case f: UnresolvedFunction if unstableFns.contains(fnName(f)) ||
            (fnName(f) == "unix_timestamp" && f.arguments.isEmpty) =>
          fail(s"'${fnName(f)}' is non-deterministic or time-varying — each " +
            "refresh would re-evaluate it differently than the rows it " +
            "maintains were built with; materialize a stable column instead")
        case _ =>
      }
    }
    val groupSqls = agg.groupingExpressions.map(_.sql)

    var groups = Vector.empty[GroupCol]
    var aggs = Vector.empty[AggSpec]
    agg.aggregateExpressions.foreach { ne =>
      val (expr: Expression, outOpt: Option[String]) = ne match {
        case Alias(child, name) => (child, Some(name))
        case ua: UnresolvedAlias => ua.child match {
          case a: UnresolvedAttribute => (a: Expression, Some(a.nameParts.last))
          case c => (c, None)
        }
        case a: UnresolvedAttribute => (a: Expression, Some(a.nameParts.last))
        case other => (other: Expression, None)
      }
      outOpt.foreach { out =>
        if (out.startsWith("__mv_") || out == SignCol)
          fail(s"output name '$out' collides with internal component columns")
      }
      expr match {
        case f: UnresolvedFunction
            if fnName(f) == "count" || fnName(f) == "sum" ||
              fnName(f) == "avg" || fnName(f) == "mean" ||
              fnName(f) == "min" || fnName(f) == "max" =>
          val kind = if (fnName(f) == "mean") "avg" else fnName(f)
          val out = outOpt.getOrElse(
            fail(s"alias every aggregate (e.g. ${expr.sql} AS x)"))
          if (f.isDistinct && kind != "count")
            fail(s"$kind(DISTINCT ...) is not incrementally maintainable — " +
              "DISTINCT is supported only on count(DISTINCT x), stored as " +
              "an NDV sketch (exact below 2048 distinct values per group)")
          if (f.filter.isDefined)
            fail("FILTER clauses on aggregates are not supported — fold the predicate into WHERE")
          f.arguments match {
            case Seq(arg) if f.isDistinct =>
              if (hasAgg(arg)) fail("nested aggregates are not supported")
              aggs :+= AggSpec("cntd", arg.sql, out)
            case _ if f.isDistinct =>
              fail("count(DISTINCT x) takes exactly one argument")
            case Seq(_: UnresolvedStar) if kind == "count" =>
              aggs :+= AggSpec("countstar", "", out)
            case Seq(Literal(v, _)) if kind == "count" && v != null =>
              aggs :+= AggSpec("countstar", "", out)
            case Seq(arg) =>
              if (hasAgg(arg)) fail("nested aggregates are not supported")
              aggs :+= AggSpec(kind, arg.sql, out)
            case _ => fail(s"$kind takes exactly one argument")
          }
        case f: UnresolvedFunction if isKnownNonMaintainableAgg(fnName(f)) =>
          fail(s"aggregate ${fnName(f)} is not incrementally maintainable " +
            "under deletes (removing the contributing row forces a group " +
            "rescan) — supported: count(*), count(x), sum(x), avg(x), and " +
            "min(x)/max(x) (which fall back to a full recompute when a " +
            "change window contains deletes)")
        case e =>
          if (hasAgg(e))
            fail(s"expressions over aggregates (${e.sql}) are not supported — " +
              "compute them when reading the view")
          val out = outOpt.getOrElse(fail(s"alias group expression ${e.sql}"))
          if (!groupSqls.contains(e.sql))
            fail(s"non-aggregate select item ${e.sql} must appear in GROUP BY")
          groups :+= GroupCol(out, e.sql)
      }
    }
    if (groups.isEmpty) fail("select at least one group column")
    if (aggs.isEmpty) fail("select at least one aggregate")
    // every GROUP BY expression must be SELECTED: a grouping column the
    // select list drops would make the store aggregate at a FINER grain
    // than its columns can represent — the merge keys (and the declared
    // SQL) would silently mean a coarser view than the store holds
    groupSqls.foreach { gs =>
      if (!groups.exists(_.exprSql == gs))
        fail(s"GROUP BY expression $gs must also appear in the SELECT list")
    }
    val outs = groups.map(_.out) ++ aggs.map(_.out)
    outs.diff(outs.distinct).headOption.foreach(d => fail(s"duplicate output name '$d'"))
    (srcKey, joinSteps, filterSql, groups, aggs)
  }

  /** The FROM clause of a (possibly join) MV with per-table `VERSION AS
    * OF` pins — the consistent-snapshot read every full recompute and the
    * create probe use. Pin −1 = unpinned (current).
    */
  private def srcRelationSql(
      srcKey: String, joins: Seq[MvJoin], pins: Map[String, Long]): String = {
    def ref(key: String): String =
      s"graft.${q(key)}" + pins.get(key).map(v => s" VERSION AS OF $v").getOrElse("")
    joins.foldLeft(ref(srcKey)) { (acc, j) =>
      val kw = j.joinType match {
        case "LEFT" => "LEFT JOIN"
        case "RIGHT" => "RIGHT JOIN"
        case "FULL" => "FULL OUTER JOIN"
        case _ => "JOIN"
      }
      s"$acc $kw ${ref(j.key)} ON ${j.condSql}"
    }
  }

  // ------------------------------------------------------------- SQL gen

  /** The store-contents aggregate over `srcRelation` (a table reference,
    * optionally with `VERSION AS OF`): groups, rowcount, components.
    */
  private[sources] def storeSelectSql(st: MvState, srcRelation: String): String = {
    val items =
      st.groups.map(g => s"${g.exprSql} AS ${q(g.out)}") ++
        Seq(s"count(*) AS ${q(RowCountCol)}") ++
        st.aggs.flatMap {
          case AggSpec("countstar", _, _) => Nil
          case AggSpec("count", arg, out) =>
            Seq(s"count($arg) AS ${q(s"__mv_cnt_$out")}")
          case AggSpec("min", arg, out) =>
            Seq(s"min($arg) AS ${q(s"__mv_min_$out")}")
          case AggSpec("max", arg, out) =>
            Seq(s"max($arg) AS ${q(s"__mv_max_$out")}")
          case AggSpec("cntd", arg, out) =>
            Seq(s"ndv_sketch_agg($arg) AS ${q(s"__mv_ndv_$out")}")
          case AggSpec(_, arg, out) => Seq(
            s"sum($arg) AS ${q(s"__mv_sum_$out")}",
            s"count($arg) AS ${q(s"__mv_cnt_$out")}")
        }
    val where = st.filterSql.map(f => s"\nWHERE $f").getOrElse("")
    s"""SELECT ${items.mkString(", ")}
       |FROM $srcRelation$where
       |GROUP BY ${st.groups.map(_.exprSql).mkString(", ")}""".stripMargin
  }

  /** The user-facing view over the store: reconstruct each declared
    * aggregate from its components.
    */
  private[sources] def viewSelectSql(st: MvState): String = {
    val items =
      st.groups.map(g => q(g.out)) ++
        st.aggs.map {
          case AggSpec("countstar", _, out) => s"${q(RowCountCol)} AS ${q(out)}"
          case AggSpec("count", _, out) => s"${q(s"__mv_cnt_$out")} AS ${q(out)}"
          case AggSpec("min", _, out) => s"${q(s"__mv_min_$out")} AS ${q(out)}"
          case AggSpec("max", _, out) => s"${q(s"__mv_max_$out")} AS ${q(out)}"
          case AggSpec("cntd", _, out) =>
            s"ndv_estimate(${q(s"__mv_ndv_$out")}) AS ${q(out)}"
          case AggSpec("sum", _, out) =>
            s"CASE WHEN ${q(s"__mv_cnt_$out")} = 0 THEN NULL " +
              s"ELSE ${q(s"__mv_sum_$out")} END AS ${q(out)}"
          case AggSpec(_, _, out) => // avg
            s"CASE WHEN ${q(s"__mv_cnt_$out")} = 0 THEN NULL " +
              s"ELSE ${q(s"__mv_sum_$out")} / ${q(s"__mv_cnt_$out")} END AS ${q(out)}"
        }
    s"SELECT ${items.mkString(", ")} FROM graft.${q(st.storeKey)}"
  }

  /** Per-group delta aggregate over one change window: insert events sign
    * +1, delete events −1 (updates read as delete+insert pairs), every
    * component summed SIGNED. A group whose rows all cancel still emits a
    * zero-delta row — the MERGE no-ops it.
    */
  private def deltaSelectSql(st: MvState, chgView: String, storeSchema: StructType): String = {
    def sumType(out: String): String =
      storeSchema(s"__mv_sum_$out").dataType.sql
    val items =
      st.groups.map(g => s"${g.exprSql} AS ${q(g.out)}") ++
        Seq(s"CAST(sum($SignCol) AS BIGINT) AS ${q(RowCountCol)}") ++
        st.aggs.flatMap {
          case AggSpec("countstar", _, _) => Nil
          case AggSpec("count", arg, out) => Seq(
            s"CAST(sum(CASE WHEN ($arg) IS NOT NULL THEN $SignCol ELSE CAST(0 AS BIGINT) END) " +
              s"AS BIGINT) AS ${q(s"__mv_cnt_$out")}")
          // min/max deltas are only ever FOLDED under an insert-only
          // window (refresh falls back to full otherwise), so a plain
          // per-window extreme is exact
          case AggSpec("min", arg, out) =>
            Seq(s"min($arg) AS ${q(s"__mv_min_$out")}")
          case AggSpec("max", arg, out) =>
            Seq(s"max($arg) AS ${q(s"__mv_max_$out")}")
          // distinct sketches fold only under insert-only windows (the
          // same gate as extremes), where the window sketch set-unions in
          case AggSpec("cntd", arg, out) =>
            Seq(s"ndv_sketch_agg($arg) AS ${q(s"__mv_ndv_$out")}")
          case AggSpec(_, arg, out) => Seq(
            s"CAST(coalesce(sum(CASE WHEN ($arg) IS NOT NULL THEN $SignCol * ($arg) END), 0) " +
              s"AS ${sumType(out)}) AS ${q(s"__mv_sum_$out")}",
            s"CAST(sum(CASE WHEN ($arg) IS NOT NULL THEN $SignCol ELSE CAST(0 AS BIGINT) END) " +
              s"AS BIGINT) AS ${q(s"__mv_cnt_$out")}")
        }
    val where = st.filterSql.map(f => s" WHERE $f").getOrElse("")
    s"""SELECT ${items.mkString(", ")}
       |FROM (
       |  SELECT *, CASE WHEN ${MemChangesSource.ChangeType} IN ('insert', 'update_postimage')
       |            THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS $SignCol
       |  FROM $chgView$where) __graft_mv_signed
       |GROUP BY ${st.groups.map(_.exprSql).mkString(", ")}""".stripMargin
  }

  /** Per-group SIGNED delta aggregate of a JOIN MV over one multi-source
    * change window, via the TELESCOPING identity over the definition's
    * chain A_1 ⋈ ... ⋈ A_n:
    *
    *   Δ(A_1 ⋈ ... ⋈ A_n) = Σ_i  A_1..A_{i-1}@NEW ⋈ ΔA_i ⋈ A_{i+1}..A_n@OLD
    *
    * Exact for ARBITRARY signed deltas (inserts +1, deletes −1, updates
    * as ±1 pairs) because the multiset join is bilinear: expanding
    * (A+ΔA) ⋈ (B+ΔB) − A ⋈ B term by term gives ΔA⋈B + A⋈ΔB + ΔA⋈ΔB =
    * ΔA⋈B@old + A@new⋈ΔB — each change counted exactly once, none
    * missed, generalized left-to-right for n tables. `termFroms` carries
    * one FROM text per MOVED source (unmoved sources' terms vanish; in
    * other terms they sit at new == old). Each term PROJECTS the
    * definition's group and argument expressions — resolved against that
    * term's join, the only context they exist in — plus the delta side's
    * sign; the UNION then aggregates into signed store components
    * exactly like the single-table path, and the same MERGE folds them.
    * Refresh cost = Σ_i |ΔA_i ⋈ others| — change rate × join fan-out,
    * never the full join.
    */
  /** One term of a join-MV delta: its FROM text, an optional EXTRA
    * conjunct ANDed with the MV's own filter (the LEFT flip terms carry
    * their match-existence predicates here), and the SQL yielding the
    * term's sign (the moved source's feed column for telescoped terms, a
    * ±1 constant for flip terms).
    */
  private[sources] final case class DeltaTerm(
      from: String, extraWhere: Option[String], signSql: String)

  private def joinDeltaSelectSql(
      st: MvState, terms: Seq[DeltaTerm], storeSchema: StructType): String = {
    def sumType(out: String): String =
      storeSchema(s"__mv_sum_$out").dataType.sql
    def a(out: String): String = q(s"__mv_arg_$out")
    // per-term projection: group exprs + each aggregate's argument under
    // a reserved flat name + the sign — the union's aggregation below
    // then sees only unambiguous named columns
    val projBase =
      st.groups.map(g => s"${g.exprSql} AS ${q(g.out)}") ++
        st.aggs.collect {
          case AggSpec(kind, arg, out) if kind != "countstar" =>
            s"($arg) AS ${a(out)}"
        }
    def termSelect(t: DeltaTerm): String = {
      val conj = (st.filterSql.toSeq ++ t.extraWhere.toSeq).map(c => s"($c)")
      val where = if (conj.isEmpty) "" else conj.mkString(" WHERE ", " AND ", "")
      s"SELECT ${(projBase :+ s"${t.signSql} AS $SignCol").mkString(", ")} " +
        s"FROM ${t.from}$where"
    }
    val union = terms.map(termSelect).mkString("\nUNION ALL\n")
    val items =
      st.groups.map(g => q(g.out)) ++
        Seq(s"CAST(sum($SignCol) AS BIGINT) AS ${q(RowCountCol)}") ++
        st.aggs.flatMap {
          case AggSpec("countstar", _, _) => Nil
          case AggSpec("count", _, out) => Seq(
            s"CAST(sum(CASE WHEN ${a(out)} IS NOT NULL THEN $SignCol ELSE CAST(0 AS BIGINT) END) " +
              s"AS BIGINT) AS ${q(s"__mv_cnt_$out")}")
          // extremes fold only under insert-only windows on EVERY moved
          // source (refresh falls back to full otherwise) — a plain
          // per-window extreme over the union is then exact
          case AggSpec("min", _, out) =>
            Seq(s"min(${a(out)}) AS ${q(s"__mv_min_$out")}")
          case AggSpec("max", _, out) =>
            Seq(s"max(${a(out)}) AS ${q(s"__mv_max_$out")}")
          case AggSpec("cntd", _, out) =>
            Seq(s"ndv_sketch_agg(${a(out)}) AS ${q(s"__mv_ndv_$out")}")
          case AggSpec(_, _, out) => Seq(
            s"CAST(coalesce(sum(CASE WHEN ${a(out)} IS NOT NULL THEN $SignCol * ${a(out)} END), 0) " +
              s"AS ${sumType(out)}) AS ${q(s"__mv_sum_$out")}",
            s"CAST(sum(CASE WHEN ${a(out)} IS NOT NULL THEN $SignCol ELSE CAST(0 AS BIGINT) END) " +
              s"AS BIGINT) AS ${q(s"__mv_cnt_$out")}")
        }
    s"""SELECT ${items.mkString(", ")}
       |FROM (
       |$union
       |) __graft_mv_join_delta
       |GROUP BY ${st.groups.map(g => q(g.out)).mkString(", ")}""".stripMargin
  }

  /** Fold a delta relation into the store: dead groups delete, touched
    * groups add componentwise, new groups insert. Group keys join
    * NULL-SAFE — NULL is a real group.
    */
  private def mergeSql(st: MvState, deltaView: String): String = {
    val on = st.groups.map(g => s"t.${q(g.out)} <=> s.${q(g.out)}").mkString(" AND ")
    def fold2(c: String, fn: String): String =
      // least/greatest skip NULL inputs (NULL only when BOTH are), which
      // is exactly the "no non-null inputs on that side yet" semantics
      s"${q(c)} = $fn(t.${q(c)}, s.${q(c)})"
    val sets = (Seq(s"${q(RowCountCol)} = t.${q(RowCountCol)} + s.${q(RowCountCol)}") ++
      st.aggs.flatMap {
        case AggSpec("countstar", _, _) => Nil
        case AggSpec("count", _, out) =>
          val c = s"__mv_cnt_$out"
          Seq(s"${q(c)} = t.${q(c)} + s.${q(c)}")
        case AggSpec("min", _, out) => Seq(fold2(s"__mv_min_$out", "least"))
        case AggSpec("max", _, out) => Seq(fold2(s"__mv_max_$out", "greatest"))
        case AggSpec("cntd", _, out) =>
          val c = s"__mv_ndv_$out"
          Seq(s"${q(c)} = ndv_union(t.${q(c)}, s.${q(c)})")
        case AggSpec(_, _, out) =>
          Seq(s"__mv_sum_$out", s"__mv_cnt_$out")
            .map(c => s"${q(c)} = t.${q(c)} + s.${q(c)}")
      }).mkString(", ")
    val allCols = st.componentCols
    s"""MERGE INTO graft.${q(st.storeKey)} t USING $deltaView s
       |ON $on
       |WHEN MATCHED AND t.${q(RowCountCol)} + s.${q(RowCountCol)} = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET $sets
       |WHEN NOT MATCHED AND s.${q(RowCountCol)} > 0 THEN
       |  INSERT (${allCols.map(q).mkString(", ")})
       |  VALUES (${allCols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
  }

  // --------------------------------------------------------- persistence

  private val mapper = new ObjectMapper()


  // per-MV journal COMMIT GENERATION (process-local, like
  // [[MemTables.State.durableGen]]): every journal write CASes against
  // the generation this process last loaded or wrote, so two driver
  // processes refreshing one MV cannot silently overwrite each other's
  // watermark — the loser is evicted and retried against the recovered
  // journal
  private val journalGens = TrieMap.empty[String, Long]

  /** Write the refresh journal atomically (compare-and-swap through the
    * metadata plane's one IO interface) into the store table's storage
    * directory — the durable copy of this registry entry.
    */
  private[sources] def persist(st: MvState): Unit = {
    val storeSt = MemTables.get(st.storeKey).getOrElse(throw new IllegalStateException(
      s"materialized view '${st.name}': store table ${st.storeKey} missing"))
    val dir = storeSt.storageDir
    val expectedGen = journalGens.getOrElse(st.name, 0L)
    val o = mapper.createObjectNode()
    // the CAS generation — FIRST field by contract ([[MetaIO.commitCas]])
    o.put("commit-gen", expectedGen + 1)
    o.put("format-version", 1)
    o.put("name", st.name)
    o.put("source", st.srcKey)
    o.put("source-uuid", st.srcTableUuid)
    o.put("store", st.storeKey)
    o.put("definition-sql", st.definitionSql)
    o.put("view-sql", st.viewSql)
    o.put("view-schema", st.viewSchemaJson)
    st.filterSql.foreach(o.put("filter-sql", _))
    val gs = mapper.createArrayNode()
    st.groups.foreach { g =>
      val n = mapper.createObjectNode(); n.put("out", g.out); n.put("sql", g.exprSql)
      gs.add(n)
    }
    o.set[JsonNode]("groups", gs)
    val as = mapper.createArrayNode()
    st.aggs.foreach { a =>
      val n = mapper.createObjectNode()
      n.put("kind", a.kind); n.put("arg", a.argSql); n.put("out", a.out)
      as.add(n)
    }
    o.set[JsonNode]("aggs", as)
    o.put("watermark", st.watermark)
    o.put("delta-refreshes", st.deltaRefreshes)
    if (st.autoRefresh) o.put("auto-refresh", true)
    if (st.joins.nonEmpty) {
      val js = mapper.createArrayNode()
      st.joins.foreach { j =>
        val n = mapper.createObjectNode()
        n.put("key", j.key); n.put("uuid", j.uuid)
        n.put("watermark", j.watermark); n.put("cond", j.condSql)
        n.put("type", j.joinType)
        js.add(n)
      }
      o.set[JsonNode]("joins", js)
    }
    st.pending.foreach { p =>
      val n = mapper.createObjectNode()
      n.put("from", p.from); n.put("to", p.to)
      n.put("store-version-before", p.storeVersionBefore)
      o.set[JsonNode]("pending", n)
    }
    // atomic CAS publish through the metadata plane's one IO interface —
    // lock-bracketed tmp+rename locally, write-once snapshot + pointer
    // swap on object stores ([[MetaIO.commitCas]]). A conflict means
    // another PROCESS refreshed this MV: evict the registry entry (the
    // next access recovers the winner's journal) and surface retryable
    try MetaIO.commitCas(dir, JournalName, mapper.writeValueAsBytes(o),
      expectedGen)
    catch {
      case e: MetaIO.CommitConflictException =>
        forget(st.name)
        throw new java.util.ConcurrentModificationException(
          s"materialized view '${st.name}': ${e.getMessage}", e)
    }
    journalGens.put(st.name, expectedGen + 1)
    ()
  }

  private def loadJournal(dir: String): Option[MvState] = {
    val bytes = MetaIO.readCurrent(dir, JournalName).getOrElse(return None)
    try {
      val st = loadJournalUnsafe(bytes)
      // record the loaded generation: the next persist CASes against it
      st.foreach { s =>
        val gen = try {
          val root = mapper.readTree(bytes)
          // legacy journal (no commit-gen) on a pointer-swap scheme:
          // expect the pointer's sequence, not 0 ([[MetaIO.legacyGen]])
          Option(root.get("commit-gen")).map(_.asLong)
            .getOrElse(MetaIO.legacyGen(dir, JournalName))
        } catch { case _: Exception => 0L }
        journalGens.put(s.name, gen)
      }
      st
    }
    catch {
      case e: Exception =>
        // an unreadable journal must not wedge recovery (or DROP): the
        // same skip-loudly discipline as table metadata recovery
        System.err.println(
          s"graft: skipping unreadable materialized-view journal at $dir: ${e.getMessage}")
        None
    }
  }

  private def loadJournalUnsafe(bytes: Array[Byte]): Option[MvState] = {
    {
      val root = mapper.readTree(bytes).asInstanceOf[ObjectNode]
      def arr(field: String): Seq[JsonNode] = {
        val it = root.get(field).elements()
        val b = Vector.newBuilder[JsonNode]
        while (it.hasNext) b += it.next()
        b.result()
      }
      Some(MvState(
        name = root.get("name").asText,
        srcKey = root.get("source").asText,
        srcTableUuid = Option(root.get("source-uuid")).map(_.asText).getOrElse(""),
        storeKey = root.get("store").asText,
        definitionSql = root.get("definition-sql").asText,
        viewSql = root.get("view-sql").asText,
        viewSchemaJson = root.get("view-schema").asText,
        filterSql = Option(root.get("filter-sql")).map(_.asText),
        groups = arr("groups").map(n => GroupCol(n.get("out").asText, n.get("sql").asText)),
        aggs = arr("aggs").map(n =>
          AggSpec(n.get("kind").asText, n.get("arg").asText, n.get("out").asText)),
        watermark = root.get("watermark").asLong,
        pending = Option(root.get("pending")).map(n => Pending(
          n.get("from").asLong, n.get("to").asLong,
          n.get("store-version-before").asLong)),
        deltaRefreshes =
          Option(root.get("delta-refreshes")).map(_.asInt).getOrElse(0),
        joins =
          if (root.get("joins") == null) Nil
          else arr("joins").map(n => MvJoin(n.get("key").asText,
            n.get("uuid").asText, n.get("watermark").asLong,
            n.get("cond").asText,
            Option(n.get("type")).map(_.asText).getOrElse("INNER"))),
        autoRefresh =
          Option(root.get("auto-refresh")).exists(_.asBoolean)))
    }
  }

  /** Registry lookup with DISK RECOVERY (the [[MemTables.get]] discipline):
    * on a miss, fault the store table in from the warehouse and rebuild
    * the registry entry and the catalog view from its refresh journal —
    * a restart loses no materialized view whose store reached disk.
    */
  // NEGATIVE probe cache for the read-path recovery hook
  // ([[graft.plans.ResolveGraftViews]] probes every unresolved
  // graft.<name> — almost always a plain table, and the disk probe
  // behind a miss lists the whole warehouse). Guarded by the warehouse
  // root's mtime: creating or dropping a table directory bumps it, so a
  // cached miss can never outlive the state it observed. Entries admitted
  // while the root was still HOT (within the mtime tick — a concurrent
  // create landing in the same filesystem timestamp could hide behind an
  // unchanged mtime) carry a 2 s TTL instead of being refused outright:
  // bursty DDL plus a many-relation query pays one probe per name per
  // window, not one per analyzer iteration. Quiet-admitted entries live
  // until the mtime changes. Values = admission time.
  private val missCache =
    new java.util.concurrent.atomic.AtomicReference[(Long, Map[String, Long])](
      (-1L, Map.empty))

  private def rootMtime(): Long = MemTables.tablesRoot.lastModified()

  private[graft] def getOrRecover(name: String): Option[MvState] =
    registry.get(name).map { st =>
      // a registry hit may still predate the catalog-view registration
      // (mid-create window, or a test's partial forget) — heal it here
      // so every getOrRecover=Some caller can rely on the view existing
      if (!MemViews.views.contains(name) && st.viewSchemaJson.nonEmpty)
        registerCatalogView(st)
      st
    }.orElse {
      val mt = rootMtime()
      val now = System.currentTimeMillis()
      val (cachedAt, misses) = missCache.get()
      // a miss is servable when its root observation still stands AND it
      // was either admitted with the root quiet (same-tick hazard gone —
      // permanent until the mtime moves) or is inside its hot-window TTL
      val cachedMiss = cachedAt == mt && misses.get(name).exists(at =>
        at - mt > 2000L || now - at < 2000L)
      if (cachedMiss) None
      else {
        val storeSt = MemTables.get(name + StoreSuffix)
        val recovered = for {
          st0 <- storeSt
          st <- loadJournal(st0.storageDir)
          if st.name == name
        } yield {
          val r = registry.putIfAbsent(name, st).getOrElse(st)
          if (!MemViews.views.contains(name)) registerCatalogView(r)
          r
        }
        // cache ONLY a true absence (no store table at all): the store
        // dir's creation bumps the root mtime this cache is keyed on, so
        // that state can't change behind the cache. A store WITHOUT a
        // journal (mid-create in another process, or an orphan) must
        // keep probing — the journal lands INSIDE the store dir and
        // never touches the root mtime. Admission is IMMEDIATE; the
        // admission timestamp decides the entry's lifetime (TTL inside
        // the hot window, mtime-bound once quiet — see [[missCache]])
        if (recovered.isEmpty && storeSt.isEmpty) {
          missCache.updateAndGet {
            case (m, s) if m == mt => (m, s + (name -> now))
            case _ => (mt, Map(name -> now))
          }
          ()
        }
        recovered
      }
    }

  // memo of the last warehouse-wide journal scan ([[recoverAllFromDisk]])
  private val allScanMemo = new java.util.concurrent.atomic.AtomicLong(-2L)

  /** Fault EVERY disk-resident materialized view into the registry — the
    * restart path of the QUERY-REWRITE half: reads of the SOURCE tables
    * don't name any MV, so nothing else would ever recover them, and the
    * rewrite would silently stop serving after a restart. Memoized on
    * the warehouse root's mtime: one directory walk per root change, one
    * stat otherwise.
    */
  private[graft] def recoverAllFromDisk(): Unit = {
    val mt = rootMtime()
    if (allScanMemo.get() == mt) return
    val root = MemTables.tablesRoot
    if (root.isDirectory) {
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
        .foreach { d =>
          if (MetaIO.pointerExists(d.getAbsolutePath, JournalName))
            try loadJournal(d.getAbsolutePath).foreach(st => getOrRecover(st.name))
            catch { case _: Exception => }
        }
    }
    allScanMemo.set(mt)
  }

  private def registerCatalogView(st: MvState): Unit = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(st.viewSchemaJson)
      .asInstanceOf[StructType]
    MemViews.views.put(st.name, MemViews.StoredView(
      st.viewSql, "graft", Array.empty, schema, schema.fieldNames,
      Array.empty, Array.empty, Map("graft.mv" -> "true")))
  }

  /** Spec hook: forget the memoized recovery scans, as a fresh process
    * would (the memos survive the in-memory state the recovery drills
    * clear, masking the restart path under one test JVM).
    */
  private[graft] def resetRecoveryMemos(): Unit = {
    allScanMemo.set(-2L)
    missCache.set((-1L, Map.empty))
  }

  /** Spec hook: drop the in-memory registry entry (and the catalog view),
    * keeping disk intact — the restart half of the recovery drill.
    */
  private[graft] def forget(name: String): Unit = {
    registry.remove(name)
    MemViews.views.remove(name)
    journalGens.remove(name)
    graft.plans.RewriteAggToMatView.invalidate(name)
  }

  // --------------------------------------------------------------- create

  private val NamePattern = "^[A-Za-z_][A-Za-z0-9_]*$".r

  def create(spark: SparkSession, name: String, sql: String,
      options: String = ""): (Long, Long) = {
    if (NamePattern.findFirstIn(name).isEmpty)
      throw new IllegalArgumentException(
        s"materialized view name '$name' is invalid (letters, digits, underscores)")
    // comma-separated create options — unknown names fail loudly rather
    // than configure nothing silently
    val opts = options.split(',').map(_.trim.toLowerCase(Locale.ROOT))
      .filter(_.nonEmpty).toSet
    val unknown = opts -- Set("auto-refresh")
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"materialized view '$name': unknown option(s) ${unknown.mkString(", ")} " +
          "(supported: auto-refresh)")
    val autoRefresh = opts.contains("auto-refresh")
    val storeKey = name + StoreSuffix
    lockFor(name).synchronized {
      if (registry.contains(name) || MemViews.views.contains(name))
        throw new IllegalArgumentException(s"materialized view or view '$name' already exists")
      if (MemTables.get(name).isDefined)
        throw new IllegalArgumentException(
          s"a table named '$name' already exists — a materialized view must not shadow it")
      if (MemTables.get(storeKey).isDefined || MemViews.views.contains(storeKey))
        throw new IllegalArgumentException(s"store table name '$storeKey' is already taken")

      val (srcKey, joinSteps, filterSql, groups, aggs) = parseDefinition(spark, name, sql)
      val srcSt = MemTables.get(srcKey).getOrElse(throw new IllegalArgumentException(
        s"materialized view '$name': source table '$srcKey' does not exist in the graft catalog"))
      val srcV = srcSt.synchronized(srcSt.version)
      // joined sources: existence, stable identity, and a pinned version
      // each — the create reads ONE consistent multi-table snapshot
      val joins: Seq[MvJoin] = joinSteps.map { case (k, cond, jt) =>
        val s = MemTables.get(k).getOrElse(throw new IllegalArgumentException(
          s"materialized view '$name': source table '$k' does not exist in the graft catalog"))
        MvJoin(k, s.tableUuid, s.synchronized(s.version), cond, jt)
      }

      var st = MvState(name, srcKey, srcSt.tableUuid, storeKey, sql,
        viewSql = "", viewSchemaJson = "", filterSql, groups, aggs,
        watermark = srcV, pending = None, joins = joins,
        autoRefresh = autoRefresh)
      // probe at the pinned version(s): schema determines component types,
      // and the same frame seeds the store — create is consistent even
      // against concurrent source commits
      val pins = ((srcKey -> srcV) +: joins.map(j => j.key -> j.watermark)).toMap
      val probe = spark.sql(storeSelectSql(st, srcRelationSql(srcKey, joins, pins)))
      st.sumCols.foreach { c =>
        val t = probe.schema(c).dataType
        if (t != LongType && t != DoubleType)
          throw new IllegalArgumentException(
            s"materialized view '$name': SUM/AVG over ${t.simpleString} is not " +
              "supported for incremental maintenance (supported: integral and " +
              "floating-point inputs)")
      }
      val storeSchema = StructType(probe.schema.fields.map(_.copy(nullable = true)))
      spark.sql(s"CREATE TABLE graft.${q(storeKey)} (${storeSchema.toDDL}) " +
        "TBLPROPERTIES('graft.storage'='parquet', " +
        s"'$StoreProp'='${name.replace("'", "''")}')")
      try {
        // internal sums are ALWAYS non-null (0 when the non-null count is
        // 0) so component arithmetic never goes NULL-absorbing
        val seeded =
          if (st.sumCols.nonEmpty) probe.na.fill(0L, st.sumCols) else probe
        asMaintenance(seeded.writeTo(s"graft.${q(storeKey)}").append())
        val viewSql = viewSelectSql(st)
        // analyze once HERE, where the catalog is necessarily bound (the
        // CALL came through it); recovery replays the recorded schema
        st = st.copy(viewSql = viewSql,
          viewSchemaJson = spark.sql(viewSql).schema.json)
        registry.put(name, st)
        persist(st)
        registerCatalogView(st)
        // a previous same-name MV may have left a cached definition
        // analysis behind — this create supersedes it
        graft.plans.RewriteAggToMatView.invalidate(name)
      } catch {
        case e: Throwable =>
          registry.remove(name)
          MemViews.views.remove(name)
          MemTables.drop(storeKey)
          throw e
      }
      val rows = MemTables.get(storeKey).map(s =>
        s.batches.filter(_.removedAt == Long.MaxValue).map(_.rowCount.toLong).sum).getOrElse(0L)
      (srcV, rows)
    }
  }

  /** STREAMING-EPOCH auto-refresh: the connector's streaming sink calls
    * this after each epoch commit on `key` (no table monitor held), and
    * every registered 'auto-refresh' MV reading that table refreshes —
    * a continuously-written source's MVs keep serving with zero manual
    * CALLs, fresh as of each epoch. Exactly-once composes from the
    * pieces: the epoch itself is idempotent per (queryId, epochId), and
    * the refresh rides the write-intent journal, so a mid-epoch restart
    * repairs rather than double-applies. A refresh FAILURE logs and
    * leaves the MV stale (exactly a missed manual refresh — the rewrite
    * stops serving, reads stay correct); it never fails the stream.
    */
  private[sources] def autoRefreshFor(key: String): Unit = {
    // fault disk-resident MVs in first (memoized on root mtime): after a
    // driver restart nothing else names an auto-refresh MV, so without
    // this the zero-manual-refresh contract would silently lapse until an
    // unrelated read recovered it — mirrors RewriteAggToMatView.apply
    recoverAllFromDisk()
    val names = registry.values.iterator.filter(st => st.autoRefresh &&
      (st.srcKey == key || st.joins.exists(_.key == key))).map(_.name).toSeq
    if (names.isEmpty) return
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { spark =>
        names.sorted.foreach { n =>
          try { refresh(spark, n); () }
          catch {
            case e: Exception => System.err.println(
              s"graft: auto-refresh of materialized view '$n' failed " +
                s"(view is stale until the next refresh): ${e.getMessage}")
          }
        }
      }
  }

  // -------------------------------------------------------------- refresh

  /** Returns (mode, fromVersion, toVersion). */
  def refresh(spark: SparkSession, name: String): (String, Long, Long) = {
    getOrRecover(name).getOrElse(throw new IllegalArgumentException(
      s"materialized view '$name' does not exist"))
    lockFor(name).synchronized {
      // re-check under the lock: a drop may have raced the probe above
      var st = getOrRecover(name).getOrElse(
        throw new IllegalArgumentException(
          s"materialized view '$name' does not exist"))
      val storeSt = MemTables.get(st.storeKey).getOrElse(throw new IllegalStateException(
        s"materialized view '$name': store table ${st.storeKey} no longer exists — " +
          "drop the materialized view"))
      // WRITE-INTENT repair: a pending window whose store version advanced
      // means the merge committed but the watermark write was lost — roll
      // the store back to the recorded pre-merge snapshot and re-apply
      st.pending.foreach { p =>
        if (storeSt.synchronized(storeSt.version) > p.storeVersionBefore)
          MemTables.rollback(st.storeKey, p.storeVersionBefore)
        st = st.copy(pending = None)
        registry.put(name, st)
        persist(st)
      }
      val srcSt = MemTables.get(st.srcKey).getOrElse(throw new IllegalStateException(
        s"materialized view '$name': source table ${st.srcKey} no longer exists"))
      // IDENTITY, not just the version clock: a table dropped and
      // re-created under the same name restarts its clock, and the
      // watermark means nothing against the new history — even at a
      // coincidentally-equal (or greater) version number
      if (st.srcTableUuid.nonEmpty && srcSt.tableUuid != st.srcTableUuid)
        throw new IllegalStateException(
          s"materialized view '$name': source table ${st.srcKey} was dropped " +
            "and re-created since the view was defined — drop and re-create " +
            "the materialized view")
      val (srcV, earliest, srcOpKinds) = srcSt.synchronized(
        (srcSt.version, srcSt.earliestVersion, srcSt.opKinds))
      if (srcV < st.watermark)
        throw new IllegalStateException(
          s"materialized view '$name': source table ${st.srcKey} is at " +
            s"version $srcV, behind the recorded watermark ${st.watermark} — " +
            "the source was re-created; drop and re-create the materialized view")
      if (st.srcTableUuid.isEmpty) {
        // pre-uuid journal: adopt the live identity — ONLY after every
        // re-creation sanity check passed (adopting first would stamp a
        // re-created table's identity next to the OLD watermark, blinding
        // the uuid check forever)
        st = st.copy(srcTableUuid = srcSt.tableUuid)
        registry.put(name, st)
        persist(st)
      }
      if (st.joins.nonEmpty) {
        // ---- JOIN MV maintenance. INCREMENTAL when every moved source's
        // window is within retention (and insert-only, if the MV keeps
        // extremes): the telescoped delta×snapshot join
        // ([[joinDeltaSelectSql]]) folds into the store via the same
        // MERGE as single-table MVs — cost tracks the change rate, never
        // the full join. Anything else falls back LOUDLY to one INSERT
        // OVERWRITE at a consistent pinned snapshot (mode=full). Same
        // write-intent protocol either way: a crash between store-commit
        // and watermark-write rolls back and re-applies the SAME window
        // (watermarks unchanged), never double-applies.
        val joinSts = st.joins.map { j =>
          val s = MemTables.get(j.key).getOrElse(throw new IllegalStateException(
            s"materialized view '$name': source table ${j.key} no longer exists"))
          if (j.uuid.nonEmpty && s.tableUuid != j.uuid)
            throw new IllegalStateException(
              s"materialized view '$name': source table ${j.key} was dropped " +
                "and re-created since the view was defined — drop and " +
                "re-create the materialized view")
          val (v, earliest, kinds) = s.synchronized(
            (s.version, s.earliestVersion, s.opKinds))
          if (v < j.watermark)
            throw new IllegalStateException(
              s"materialized view '$name': source table ${j.key} is at " +
                s"version $v, behind the recorded watermark ${j.watermark} — " +
                "the source was re-created; drop and re-create the " +
                "materialized view")
          (j, v, earliest, kinds)
        }
        val moved = srcV != st.watermark ||
          joinSts.exists { case (j, v, _, _) => v != j.watermark }
        if (!moved) ("noop", st.watermark, srcV)
        else {
          val from = st.watermark
          val intent = st.copy(pending =
            Some(Pending(from, srcV, storeSt.synchronized(storeSt.version))))
          registry.put(name, intent)
          persist(intent)
          // per-source windows in CHAIN ORDER (primary first): key, from,
          // to, earliest, op kinds
          val windows: Seq[(String, Long, Long, Long, Map[Long, String])] =
            (st.srcKey, st.watermark, srcV, earliest, srcOpKinds) +:
              joinSts.map { case (j, v, e, k) => (j.key, j.watermark, v, e, k) }
          val movedWins = windows.filter { case (_, f, t, _, _) => f != t }
          def insertOnly(w: (String, Long, Long, Long, Map[Long, String])) =
            ((w._2 + 1) to w._3).forall(v =>
              w._5.get(v).exists(InsertOnlyKinds.contains))
          def removeOnly(w: (String, Long, Long, Long, Map[Long, String])) =
            ((w._2 + 1) to w._3).forall(v =>
              w._5.get(v).exists(RemoveOnlyKinds.contains))
          val driftRecompute =
            st.deltaRefreshes + 1 >= FloatDriftFullEvery &&
              st.sumCols.exists(c => storeSt.schema.fields.find(_.name == c)
                .exists(_.dataType == DoubleType))
          // an outer step whose OPPOSITE side moved blocks extremes/
          // distinct folding even when every window is insert-only: a dim
          // INSERT can give an orphan prefix row a match, REMOVING its
          // null-extension row from the view (LEFT/FULL), and a prefix
          // INSERT can match an orphan dim row, removing ITS
          // null-extension (RIGHT/FULL) — neither a min/max nor an NDV
          // sketch can un-see a retracted row
          val namesAll = st.srcKey +: st.joins.map(_.key)
          val leftDimMoved = st.joins.zipWithIndex.exists { case (j, k) =>
            val dimMoved = movedWins.exists(_._1 == j.key)
            val prefixMoved =
              movedWins.exists(w => namesAll.indexOf(w._1) <= k)
            ((j.joinType == "LEFT" || j.joinType == "FULL") && dimMoved) ||
              ((j.joinType == "RIGHT" || j.joinType == "FULL") && prefixMoved)
          }
          val incremental =
            movedWins.forall { case (_, f, _, e, _) => f >= e } &&
              (!st.insertOnlyComponents ||
                (movedWins.forall(insertOnly) && !leftDimMoved)) &&
              !driftRecompute
          val names2 = st.srcKey +: st.joins.map(_.key)
          val newPin = windows.map(w => w._1 -> w._3).toMap
          val tag = s"${name}_${System.nanoTime()}"
          val mode =
            if (incremental) {
              // one signed change-feed view per moved source
              val chgViews: Map[String, String] = movedWins.map { case (k, f, t, _, _) =>
                val vn = ("__graft_mv_chg_" + tag + "_" + k)
                  .replaceAll("[^A-Za-z0-9_]", "_")
                spark.read.format("graft.sources.MemChangesSource")
                  .option("table", k)
                  .option("from", f.toString).option("to", t.toString)
                  .load().createOrReplaceTempView(vn)
                k -> vn
              }.toMap
              try {
                val oldPin = windows.map(w => w._1 -> w._2).toMap
                def termFrom(i: Int): String = {
                  def ref(jdx: Int): String = {
                    val k = names2(jdx)
                    if (jdx == i) {
                      val cols = MemTables.get(k).get.schema.fieldNames
                        .map(q).mkString(", ")
                      s"(SELECT $cols, CASE WHEN ${MemChangesSource.ChangeType} " +
                        "IN ('insert', 'update_postimage') THEN CAST(1 AS BIGINT) " +
                        s"ELSE CAST(-1 AS BIGINT) END AS $SignCol " +
                        s"FROM ${q(chgViews(k))}) AS ${q(k)}"
                    } else if (jdx < i) s"graft.${q(k)} VERSION AS OF ${newPin(k)}"
                    else s"graft.${q(k)} VERSION AS OF ${oldPin(k)}"
                  }
                  (1 until names2.size).foldLeft(ref(0)) { (acc, jdx) =>
                    // keyword per the per-step recursion Δ(J ⟗ A) =
                    // Δ(J) ⟕ A@old + J@new ⟾ ΔA + L-flips + R-flips:
                    //  - feed IS this step's dim (jdx == i): RIGHT/FULL
                    //    ride the reversed RIGHT JOIN — matched rows PLUS
                    //    the dim-side U_R delta (U_R is linear in the dim
                    //    for a fixed prefix, so the feed's unmatched rows
                    //    ARE the signed null-extension delta); LEFT/INNER
                    //    join matched-only (the U_L flips are the
                    //    anti-delta terms below)
                    //  - feed to the RIGHT of this step (jdx < i): the
                    //    step reproduces J@NEW — its REAL join type
                    //  - feed to the LEFT (jdx > i): the ΔJ term joins
                    //    A@old LEFT for LEFT/FULL (a ΔJ row carries its
                    //    own null-extension state) and INNER for
                    //    RIGHT/INNER (R-side effects are the R-flips)
                    val jt = st.joins(jdx - 1).joinType
                    val kw =
                      if (jdx == i) jt match {
                        case "RIGHT" | "FULL" => "RIGHT JOIN"
                        case _ => "JOIN"
                      } else if (jdx < i) jt match {
                        case "LEFT" => "LEFT JOIN"
                        case "RIGHT" => "RIGHT JOIN"
                        case "FULL" => "FULL OUTER JOIN"
                        case _ => "JOIN"
                      } else jt match {
                        case "LEFT" | "FULL" => "LEFT JOIN"
                        case _ => "JOIN"
                      }
                    s"$acc $kw ${ref(jdx)} ON ${st.joins(jdx - 1).condSql}"
                  }
                }
                // chain-reproduction and ΔJ-recursion keywords, shared by
                // the anti-delta terms below
                def snapKw(jdx: Int): String =
                  st.joins(jdx - 1).joinType match {
                    case "LEFT" => "LEFT JOIN"
                    case "RIGHT" => "RIGHT JOIN"
                    case "FULL" => "FULL OUTER JOIN"
                    case _ => "JOIN"
                  }
                def deltaKw(jdx: Int): String =
                  st.joins(jdx - 1).joinType match {
                    case "LEFT" | "FULL" => "LEFT JOIN"
                    case _ => "JOIN"
                  }
                // tables [0, upTo) at `pin`, real join keywords — J@pin
                def chainAt(upTo: Int, pin: Map[String, Long]): String =
                  (1 until upTo).foldLeft(
                    s"graft.${q(names2(0))} VERSION AS OF ${pin(names2(0))}") {
                    (acc, jdx) =>
                      s"$acc ${snapKw(jdx)} graft.${q(names2(jdx))} VERSION AS OF " +
                        s"${pin(names2(jdx))} ON ${st.joins(jdx - 1).condSql}"
                  }
                // LEFT OUTER anti-delta: when a LEFT/FULL dim side moved,
                // rows of the chain PREFIX may FLIP between matched and
                // null-extended as their dim match dies or is born — the
                // telescoped terms above see only the matched halves of
                // those transitions, so two extra terms PER MOVED dim
                // emit the compensating ± null-extension rows: the
                // prefix chain at NEW pins (real join keywords — an
                // earlier outer step's null-extended rows participate
                // with NULLs, and 3-valued ON evaluation keeps them
                // consistent with the real join), the flipping dim as a
                // LEFT JOIN against a WHERE FALSE subquery (empty —
                // every prefix row null-extends with the dim's exact
                // schema/types), and the suffix steps at OLD pins (the
                // recursion joins Δ(J_k)'s terms to the suffix like
                // every other term). The term's WHERE restricts to
                // prefix rows TOUCHING the dim window (EXISTS against
                // the small change feed — a flip implies one) whose
                // match-EXISTENCE differs between dim@OLD and dim@NEW.
                // Exact by the per-step recursion:
                // Δ(J_k ⟕ A) = Δ(J_k) ⟕ A@old + J_k@new ⋈ ΔA
                //   + [U(J_k@new, A@new) − U(J_k@new, A@old)]  [flips].
                // ONE signed term per moved dim (formerly a ± term PAIR —
                // same FROM scanned twice with 3 EXISTS probes each): the
                // XOR filter keeps exactly the flipping prefix rows and a
                // CASE on the old-side existence yields the sign (match
                // DIED → +1, its null-extension row appears; match BORN →
                // −1, the row leaves). Window-kind monotonicity prunes the
                // provably-dead sign outright: an insert-only dim window
                // can only CREATE matches (born ⟺ no old match AND a
                // matching feed insert), a remove-only one can only KILL
                // them (died ⟹ a matching feed delete, so the cheap feed
                // semi-join stays as the selectivity gate). Halves the
                // union branches and drops 2-4 dim probes per moved dim.
                def flipTerms: Seq[DeltaTerm] =
                  st.joins.zipWithIndex
                    .filter { case (j, _) =>
                      (j.joinType == "LEFT" || j.joinType == "FULL") &&
                        movedWins.exists(_._1 == j.key) }
                    .map { case (j, k) =>
                      val ti = k + 1 // j's table index in names2
                      val prefix = chainAt(ti, newPin)
                      val emptyDim =
                        s" LEFT JOIN (SELECT * FROM graft.${q(j.key)} VERSION AS OF " +
                          s"${newPin(j.key)} WHERE FALSE) AS ${q(j.key)} ON TRUE"
                      val suffix = ((ti + 1) until names2.size).map(jdx =>
                        s" ${deltaKw(jdx)} graft.${q(names2(jdx))} VERSION AS OF " +
                          s"${oldPin(names2(jdx))} ON ${st.joins(jdx - 1).condSql}").mkString
                      def ex(pin: Long): String =
                        s"EXISTS (SELECT 1 FROM graft.${q(j.key)} VERSION AS OF " +
                          s"$pin AS ${q(j.key)} WHERE ${j.condSql})"
                      val touches =
                        s"EXISTS (SELECT 1 FROM ${q(chgViews(j.key))} AS ${q(j.key)} WHERE ${j.condSql})"
                      val from = s"$prefix$emptyDim$suffix"
                      val win = movedWins.find(_._1 == j.key).get
                      if (insertOnly(win))
                        DeltaTerm(from,
                          Some(s"$touches AND NOT ${ex(oldPin(j.key))}"),
                          "CAST(-1 AS BIGINT)")
                      else if (removeOnly(win))
                        DeltaTerm(from,
                          Some(s"$touches AND ${ex(oldPin(j.key))} " +
                            s"AND NOT ${ex(newPin(j.key))}"),
                          "CAST(1 AS BIGINT)")
                      else
                        DeltaTerm(from,
                          Some(s"$touches AND (${ex(oldPin(j.key))}) <> " +
                            s"(${ex(newPin(j.key))})"),
                          s"CASE WHEN ${ex(oldPin(j.key))} THEN CAST(1 AS BIGINT) " +
                            "ELSE CAST(-1 AS BIGINT) END")
                    }
                // RIGHT OUTER anti-delta (RIGHT and FULL steps): U_R
                // changes from the PREFIX side — dim@OLD rows whose
                // match-EXISTENCE against the prefix chain differs
                // between OLD and NEW pins flip their null-extension
                // rows ±1 (the dim-side U_R delta already rides the
                // reversed RIGHT JOIN feed term above). The comparison
                // runs against the PINNED chains directly — ground
                // truth, because a prefix row's match can change via an
                // EARLIER outer step's own flip, which no single change
                // feed enumerates — so the term scans dim@OLD with two
                // EXISTS semi-joins per side: cost is the dim side, the
                // small side of a star join by construction. Prefix
                // columns null-extend through per-table WHERE FALSE
                // subqueries; suffix steps join at OLD pins per the ΔJ
                // recursion (an INNER suffix conditioned on prefix
                // columns drops these all-NULL-prefix rows — exactly as
                // the real chain treats a dim null-extension row).
                // ONE signed term per RIGHT/FULL step (formerly a ± pair —
                // the dim@OLD scan and BOTH chain-EXISTS probes duplicated
                // per sign): XOR filter + CASE sign, exactly like the left
                // flips above. Prefix-chain MONOTONICITY prunes the dead
                // sign including one chain probe's worth of CASE
                // duplication: when every step before this one is INNER
                // and every moved prefix window is insert-only, the chain
                // can only GAIN rows — a dim row's match can only be BORN
                // (−1); all remove-only, it can only DIE (+1). An outer
                // step inside the prefix breaks monotonicity (its
                // null-extension rows can vanish under inserts when the ON
                // text reads the nullable side), so the gate requires
                // all-INNER, not just insert-only windows.
                def rightFlipTerms: Seq[DeltaTerm] =
                  st.joins.zipWithIndex
                    .filter { case (j, k) =>
                      (j.joinType == "RIGHT" || j.joinType == "FULL") &&
                        movedWins.exists(w => names2.indexOf(w._1) <= k) }
                    .map { case (j, k) =>
                      val ti = k + 1 // j's table index in names2
                      val emptyPrefix = (0 until ti).map { jdx =>
                        s" LEFT JOIN (SELECT * FROM graft.${q(names2(jdx))} " +
                          s"VERSION AS OF ${newPin(names2(jdx))} WHERE FALSE) " +
                          s"AS ${q(names2(jdx))} ON TRUE"
                      }.mkString
                      val suffix = ((ti + 1) until names2.size).map(jdx =>
                        s" ${deltaKw(jdx)} graft.${q(names2(jdx))} VERSION AS OF " +
                          s"${oldPin(names2(jdx))} ON ${st.joins(jdx - 1).condSql}").mkString
                      val from =
                        s"graft.${q(j.key)} VERSION AS OF ${oldPin(j.key)} AS ${q(j.key)}" +
                          emptyPrefix + suffix
                      def ex(pin: Map[String, Long]): String =
                        s"EXISTS (SELECT 1 FROM ${chainAt(ti, pin)} WHERE ${j.condSql})"
                      val prefixMoved =
                        movedWins.filter(w => names2.indexOf(w._1) <= k)
                      val prefixInner =
                        (1 to k).forall(jdx => st.joins(jdx - 1).joinType == "INNER")
                      if (prefixInner && prefixMoved.forall(insertOnly))
                        DeltaTerm(from,
                          Some(s"NOT ${ex(oldPin)} AND ${ex(newPin)}"),
                          "CAST(-1 AS BIGINT)")
                      else if (prefixInner && prefixMoved.forall(removeOnly))
                        DeltaTerm(from,
                          Some(s"${ex(oldPin)} AND NOT ${ex(newPin)}"),
                          "CAST(1 AS BIGINT)")
                      else
                        DeltaTerm(from,
                          Some(s"(${ex(oldPin)}) <> (${ex(newPin)})"),
                          s"CASE WHEN ${ex(oldPin)} THEN CAST(1 AS BIGINT) " +
                            "ELSE CAST(-1 AS BIGINT) END")
                    }
                val terms = names2.indices
                  .filter(i => movedWins.exists(_._1 == names2(i)))
                  .map(i => DeltaTerm(termFrom(i), None, SignCol)) ++
                  flipTerms ++ rightFlipTerms
                val deltaView = ("__graft_mv_delta_" + tag)
                  .replaceAll("[^A-Za-z0-9_]", "_")
                spark.sql(joinDeltaSelectSql(st, terms, storeSt.schema))
                  .createOrReplaceTempView(deltaView)
                try asMaintenance(spark.sql(mergeSql(st, q(deltaView))))
                finally spark.catalog.dropTempView(deltaView)
              } finally chgViews.values.foreach(spark.catalog.dropTempView)
              "incremental"
            } else {
              val pinsJ = newPin
              val seed = {
                val df = spark.sql(
                  storeSelectSql(st, srcRelationSql(st.srcKey, st.joins, pinsJ)))
                if (st.sumCols.nonEmpty) df.na.fill(0L, st.sumCols) else df
              }
              val tv = s"__graft_mv_full_$tag"
              seed.createOrReplaceTempView(tv)
              try asMaintenance(
                spark.sql(s"INSERT OVERWRITE graft.${q(st.storeKey)} SELECT * FROM ${q(tv)}"))
              finally spark.catalog.dropTempView(tv)
              "full"
            }
          st = st.copy(watermark = srcV, pending = None,
            deltaRefreshes =
              if (mode == "incremental") st.deltaRefreshes + 1 else 0,
            joins = joinSts.map { case (j, v, _, _) => j.copy(watermark = v) })
          registry.put(name, st)
          persist(st)
          (mode, from, srcV)
        }
      }
      else if (srcV == st.watermark) ("noop", st.watermark, srcV)
      else {
        val from = st.watermark
        val intent = st.copy(pending =
          Some(Pending(from, srcV, storeSt.synchronized(storeSt.version))))
        registry.put(name, intent)
        persist(intent)
        val tag = s"${name}_${System.nanoTime()}"
        // min/max and count(DISTINCT) components fold only from pure
        // insert streams: any version in the window whose commit may have
        // REMOVED rows (or whose kind this ledger doesn't know) forces
        // the full path — reported as mode=full, never silently wrong
        val extremesBlockDelta = st.insertOnlyComponents &&
          !((from + 1) to srcV).forall(v =>
            srcOpKinds.get(v).exists(InsertOnlyKinds.contains))
        // double-typed sum components accumulate floating-point error
        // across signed-delta merges (delete-heavy chains can drift
        // arbitrarily through cancellation) — re-anchor at the exact
        // recomputation every [[FloatDriftFullEvery]] refreshes.
        // Integral sums are exact and never force this.
        val driftRecompute = st.deltaRefreshes + 1 >= FloatDriftFullEvery &&
          st.sumCols.exists(c => storeSt.schema.fields.find(_.name == c)
            .exists(_.dataType == DoubleType))
        val mode =
          if (from < earliest || extremesBlockDelta || driftRecompute) {
            // watermark expired out of source retention (or a min/max MV
            // saw a row-removing window): the incremental path is
            // unavailable — recompute in full, loudly reported as
            // mode=full
            val seed = {
              val df = spark.sql(
                storeSelectSql(st, s"graft.${q(st.srcKey)} VERSION AS OF $srcV"))
              if (st.sumCols.nonEmpty) df.na.fill(0L, st.sumCols) else df
            }
            val tv = s"__graft_mv_full_$tag"
            seed.createOrReplaceTempView(tv)
            try asMaintenance(
              spark.sql(s"INSERT OVERWRITE graft.${q(st.storeKey)} SELECT * FROM ${q(tv)}"))
            finally spark.catalog.dropTempView(tv)
            "full"
          } else {
            val chgView = s"__graft_mv_chg_$tag"
            val deltaView = s"__graft_mv_delta_$tag"
            spark.read.format("graft.sources.MemChangesSource")
              .option("table", st.srcKey)
              .option("from", from.toString).option("to", srcV.toString)
              .load()
              .createOrReplaceTempView(chgView)
            try {
              spark.sql(deltaSelectSql(st, q(chgView), storeSt.schema))
                .createOrReplaceTempView(deltaView)
              try asMaintenance(spark.sql(mergeSql(st, q(deltaView))))
              finally spark.catalog.dropTempView(deltaView)
            } finally spark.catalog.dropTempView(chgView)
            "incremental"
          }
        st = st.copy(watermark = srcV, pending = None,
          deltaRefreshes =
            if (mode == "incremental") st.deltaRefreshes + 1 else 0)
        registry.put(name, st)
        persist(st)
        (mode, from, srcV)
      }
    }
  }

  // ----------------------------------------------------------------- drop

  def drop(name: String): Boolean =
    lockFor(name).synchronized {
      val known = getOrRecover(name).isDefined
      registry.remove(name)
      journalGens.remove(name)
      graft.plans.RewriteAggToMatView.invalidate(name)
      // only remove the catalog view if it is OURS (an unrelated plain
      // view sharing the name must survive a mistaken drop call)
      if (known || MemViews.views.get(name).exists(_.properties.contains("graft.mv")))
        MemViews.views.remove(name)
      // only reclaim a store WE own: the refresh journal marks it. A
      // plain table that merely HAPPENS to be named `<name>__store` must
      // survive a mistyped drop call — deleting it (files included) on
      // the strength of a name suffix would be data loss
      val storeKey = name + StoreSuffix
      val ownsStore = known || MemTables.get(storeKey).exists(st =>
        MetaIO.pointerExists(st.storageDir, JournalName))
      if (!known && !ownsStore && MemTables.get(storeKey).isDefined)
        // a crash between the store CREATE and the first journal write
        // leaves a journal-less store this procedure must NOT reclaim
        // (it cannot prove ownership) — point at the safe way out
        throw new IllegalStateException(
          s"materialized view '$name' does not exist, but a table named " +
            s"'$storeKey' does (no refresh journal — possibly an orphan of " +
            "a crashed create); reclaim it explicitly with " +
            s"DROP TABLE graft.$storeKey")
      val dropped = ownsStore && MemTables.drop(storeKey)
      known || dropped
    }
}
