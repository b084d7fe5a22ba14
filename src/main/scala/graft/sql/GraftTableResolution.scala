package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, Cast, EqualTo, Expression, In, IsNull, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertIntoStatement, Join, JoinHint, LogicalPlan, MergeAction, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{LakeMerge, MergeEngine}

/** Analyzer rule that makes [[GraftTable]] relations executable: each
  * catalog/DataSource relation over a lake table is substituted with the
  * library's own resolved-live-state plan (`LakeMerge.readState` — LWW
  * winners over base ∪ deltas ∪ L0, tombstones dropped), aliased back to
  * the relation's output attribute ids. SQL therefore runs EXACTLY the
  * plan the Scala API runs — parquet filter pushdown, column pruning and
  * the single-exchange LWW shape all survive (PlanSpec gates them through
  * the SQL path).
  *
  * Point lookups: a top-level `repo = 'x'`, `repo IN (…)`, or
  * OR-of-equalities conjunct directly above the relation routes through
  * the library's point read (`LakeMerge.readRepos` — metadata bucket +
  * key-bloom pruning per key, rows read and LWW-folded on the driver) with
  * the original filter retained on top as the residual. The substituted
  * plan is a local relation, so Spark folds the residual and projection
  * into a `LocalTableScan`: a SQL point lookup runs zero Spark jobs, like
  * the Scala API's.
  */
class GraftTableResolution(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Unwrap SubqueryAlias chains down to a graft relation, if any. The
    * aliases only add qualifiers; references are already resolved by
    * exprId, so the substitution can drop them. */
  private def graftOf(p: LogicalPlan): Option[(DataSourceV2Relation, GraftTable)] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some((r, t))
      case _ => None
    }
    case SubqueryAlias(_, child) => graftOf(child)
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Unwrap to a changes-table relation, if any. */
  private def changesOf(p: LogicalPlan): Option[(DataSourceV2Relation, GraftChangesTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftChangesTable => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => changesOf(child)
      case _ => None
    }

  /** Unwrap to a WAP audit-view relation, if any. */
  private def wapOf(p: LogicalPlan): Option[(DataSourceV2Relation, GraftWapTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftWapTable => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => wapOf(child)
      case _ => None
    }

  /** Substitute a `graft.ns.t.wap_<id>` READ: current ∪ staged files
    * through the prunable LWW live view — the table as if the staged set
    * were published. Read-only (no write capability on the relation). */
  private def substituteWap(
      r: DataSourceV2Relation, t: GraftWapTable): LogicalPlan = {
    val lake = graft.lake.LakeTable.load(spark, t.path)
    val (_, staged) = lake.wapRead(t.wapId)
    val resolved = MergeEngine.prunableLiveView(
      lake.readSubset(lake.files ++ staged)).queryExecution.analyzed
    require(resolved.output.length == r.output.length,
      s"graft wap view ${t.path}#${t.wapId}: schema drift (${r.output.length} " +
        s"vs ${resolved.output.length} cols)")
    Project(r.output.zip(resolved.output).map { case (out, in) =>
      Alias(in, out.name)(exprId = out.exprId)
    }, resolved)
  }

  /** Unwrap to a mart-view relation, if any. */
  private def martViewOf(p: LogicalPlan): Option[(DataSourceV2Relation, GraftMartViewTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftMartViewTable => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => martViewOf(child)
      case _ => None
    }

  /** Substitute a `graft.ns.m.view_<qid>` READ: the mart query's current
    * documents decoded with from_json against the recorded result schema —
    * a typed materialized-view read. */
  private def substituteMartView(
      r: DataSourceV2Relation, t: GraftMartViewTable): LogicalPlan = {
    val mart = graft.lake.LakeTable.load(spark, t.path)
    val viewSchema = org.apache.spark.sql.types.StructType.fromDDL(t.ddl)
    import org.apache.spark.sql.functions.{col, from_json}
    val docs = graft.cdc.Mart.readDocs(mart, t.queryId)
    val resolved = docs
      .select(from_json(col("doc_json"), viewSchema).as("_doc"))
      .select(viewSchema.fieldNames.map(n => col(s"_doc.$n").as(n)).toSeq: _*)
      .queryExecution.analyzed
    require(resolved.output.length == r.output.length,
      s"graft mart view ${t.path}#${t.queryId}: schema drift")
    Project(r.output.zip(resolved.output).map { case (out, in) =>
      Alias(in, out.name)(exprId = out.exprId)
    }, resolved)
  }

  /** Unwrap to a full-envelope cdc relation, if any. */
  private def cdcOf(p: LogicalPlan): Option[(DataSourceV2Relation, GraftCdcTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftCdcTable => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => cdcOf(child)
      case _ => None
    }

  /** Substitute a `graft.ns.t.cdc` READ: the resolved state as CDC events
    * (per-key LWW winner, tombstones kept, op exposed) in the prunable
    * window shape. Writes never reach here — the relation under an
    * InsertIntoStatement is guarded like the base table's. */
  private def substituteCdc(
      r: DataSourceV2Relation, t: GraftCdcTable): LogicalPlan = {
    val lake = graft.lake.LakeTable.load(spark, t.path)
    val resolved = MergeEngine.prunableStateView(lake.read())
      .queryExecution.analyzed
    require(resolved.output.length == r.output.length,
      s"graft cdc table ${t.path}: schema drift (${r.output.length} vs " +
        s"${resolved.output.length} cols)")
    Project(r.output.zip(resolved.output).map { case (out, in) =>
      Alias(in, out.name)(exprId = out.exprId)
    }, resolved)
  }

  /** Substitute a `graft.ns.t.changes` relation with the version-pruned
    * changelog read. Bound conjuncts on `_change_version` (=, <, <=, >, >=,
    * BETWEEN — which parses to >= AND <=) tighten the (from, to] range so
    * only those commits' files are opened; the full residual filter is
    * retained on top by the caller. Defaults: the whole retained changelog. */
  private def substituteChanges(
      r: DataSourceV2Relation, t: GraftChangesTable,
      cond: Option[Expression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.types.IntegerType
    val lake = graft.lake.LakeTable.load(spark, t.path)
    // user bounds tracked separately from the defaults: an EXPLICIT lower
    // bound below the retention floor must fail loudly on the expired
    // snapshot read (readChangesWithVersion walks from it), never silently
    // clamp to the floor — a truncated changelog is a wrong answer
    var userLo: Option[Int] = None
    var userHi: Option[Int] = None
    def tightenLo(v: Int): Unit = { userLo = Some(userLo.fold(v)(math.max(_, v))); () }
    def tightenHi(v: Int): Unit = { userHi = Some(userHi.fold(v)(math.min(_, v))); () }
    for {
      c <- cond.toSeq
      vAttr <- r.output.find(_.name == "_change_version").toSeq
      e <- conjuncts(c)
    } {
      def isV(a: Expression) = a match {
        case at: Attribute => at.exprId == vAttr.exprId
        case _ => false
      }
      e match {
        case EqualTo(a, Literal(v: Int, IntegerType)) if isV(a) =>
          tightenLo(v - 1); tightenHi(v)
        case EqualTo(Literal(v: Int, IntegerType), a) if isV(a) =>
          tightenLo(v - 1); tightenHi(v)
        case GreaterThanOrEqual(a, Literal(v: Int, IntegerType)) if isV(a) =>
          tightenLo(v - 1)
        case GreaterThan(a, Literal(v: Int, IntegerType)) if isV(a) =>
          tightenLo(v)
        case LessThanOrEqual(a, Literal(v: Int, IntegerType)) if isV(a) =>
          tightenHi(v)
        case LessThan(a, Literal(v: Int, IntegerType)) if isV(a) =>
          tightenHi(v - 1)
        case GreaterThanOrEqual(Literal(v: Int, IntegerType), a) if isV(a) =>
          tightenHi(v)
        case GreaterThan(Literal(v: Int, IntegerType), a) if isV(a) =>
          tightenHi(v - 1)
        case LessThanOrEqual(Literal(v: Int, IntegerType), a) if isV(a) =>
          tightenLo(v - 1)
        case LessThan(Literal(v: Int, IntegerType), a) if isV(a) =>
          tightenLo(v)
        case _ => ()
      }
    }
    var lo = userLo.getOrElse(lake.changesFloor)
    // versions beyond current simply have no changes yet — clamp is safe
    val hi = math.min(userHi.getOrElse(lake.currentVersion), lake.currentVersion)
    // an over-constrained range reads nothing (but the plan stays valid)
    if (lo > hi) lo = hi
    val resolved = lake.readChangesWithVersion(lo, hi).queryExecution.analyzed
    require(resolved.output.length == r.output.length,
      s"graft changes table ${t.path}: schema drift (${r.output.length} vs " +
        s"${resolved.output.length} cols)")
    Project(r.output.zip(resolved.output).map { case (out, in) =>
      Alias(in, out.name)(exprId = out.exprId)
    }, resolved)
  }

  /** A top-level point-lookup conjunct on `repo`, by exprId: a single
    * equality, an `IN`-list of literals, or an OR-tree of equalities all
    * yield the key set for the driver-side point read. */
  private def repoKeys(cond: Expression, repoAttr: Attribute): Option[Seq[String]] = {
    def eq(e: Expression): Option[String] = e match {
      case EqualTo(a: Attribute, Literal(v: UTF8String, StringType))
        if a.exprId == repoAttr.exprId => Some(v.toString)
      case EqualTo(Literal(v: UTF8String, StringType), a: Attribute)
        if a.exprId == repoAttr.exprId => Some(v.toString)
      case _ => None
    }
    def keysOf(e: Expression): Option[Seq[String]] = e match {
      case In(a: Attribute, vs) if a.exprId == repoAttr.exprId &&
          vs.forall { case Literal(_: UTF8String, StringType) => true; case _ => false } =>
        Some(vs.map { case Literal(v: UTF8String, StringType) => v.toString })
      case Or(l, r) => for { ls <- keysOf(l); rs <- keysOf(r) } yield ls ++ rs
      case other => eq(other).map(Seq(_))
    }
    conjuncts(cond).iterator.map(keysOf).collectFirst {
      case Some(ks) if ks.nonEmpty => ks.distinct
    }
  }

  private def substitute(
      r: DataSourceV2Relation, t: GraftTable, repo: Option[Seq[String]]): LogicalPlan = {
    val lake = t.lake(spark)
    // point lookups take the library's driver-side point read; every other
    // read takes the WINDOW-shaped live view (not readState's max_by
    // shape): SQL can project any subset, and only the window form lets
    // Catalyst prune unreferenced payload columns down into the parquet
    // scan — a `SELECT repo FROM graft.t` must not read `content`
    val df = (t.asOfVersion, repo) match {
      case (None, Some(ks)) => LakeMerge.readRepos(lake, ks)
      case (None, None) => MergeEngine.prunableLiveView(lake.read())
      case (Some(v), _) =>
        // versioned reads resolve the snapshot as-of; the repo residual
        // still pushes into the parquet scan, just without bucket pruning
        // (the pruning map is the CURRENT snapshot's layout)
        MergeEngine.prunableLiveView(lake.readVersion(v))
    }
    val resolved = df.queryExecution.analyzed
    require(resolved.output.length == r.output.length,
      s"graft table ${t.path}: schema drift between catalog relation " +
        s"(${r.output.length} cols) and resolved state (${resolved.output.length} cols)")
    Project(r.output.zip(resolved.output).map { case (out, in) =>
      Alias(in, out.name)(exprId = out.exprId)
    }, resolved)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // INSERT targets must STAY relations: `InsertIntoStatement` holds its
    // target as a child, and ResolveInsertInto needs the v2 relation there
    // to build AppendData — substituting the read plan under it would turn
    // the write target into a query. (AppendData itself holds the table
    // out-of-children, so only the pre-resolution statement needs this.)
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case i: InsertIntoStatement =>
        graftOf(i.table).foreach { case (r, _) => writeTargets.add(r); () }
        cdcOf(i.table).foreach { case (r, _) => writeTargets.add(r); () }
        // read-only relations: keep the relation in place so Spark raises
        // its clean "table does not support append" instead of this rule
        // substituting a query plan under the INSERT target
        wapOf(i.table).foreach { case (r, _) => writeTargets.add(r); () }
        martViewOf(i.table).foreach { case (r, _) => writeTargets.add(r); () }
      case d: DeleteFromTable =>
        graftOf(d.table).foreach { case (r, _) => writeTargets.add(r); () }
      case u: UpdateTable =>
        graftOf(u.table).foreach { case (r, _) => writeTargets.add(r); () }
      case m: MergeIntoTable =>
        graftOf(m.targetTable).foreach { case (r, _) => writeTargets.add(r); () }
      case _ => ()
    }
    def readable(p: LogicalPlan): Option[(DataSourceV2Relation, GraftTable)] =
      graftOf(p).filterNot { case (r, _) => writeTargets.contains(r) }
    plan.resolveOperatorsDown {
      // canonical MERGE INTO forms → the library merge (see mergeRewrite)
      case m: MergeIntoTable if m.resolved && graftOf(m.targetTable).isDefined =>
        mergeRewrite(m).getOrElse(m)
      // UPDATE → re-emit matched winners as op='U' events (see updateRewrite)
      case u: UpdateTable if u.resolved && graftOf(u.table).isDefined =>
        updateRewrite(u).getOrElse(u)
      // Filter directly over the relation: route a repo point-lookup through
      // the driver-side point read (matched top-down so this wins over the
      // bare case)
      case f @ Filter(cond, child) if f.resolved && readable(child).isDefined =>
        val (r, t) = readable(child).get
        val repo = r.output.find(_.name == "repo").flatMap(a => repoKeys(cond, a))
        Filter(cond, substitute(r, t, repo))
      case p if readable(p).isDefined =>
        val (r, t) = readable(p).get
        substitute(r, t, None)
      // changelog inspection table: version-bound conjuncts prune which
      // commits' files are read; the filter stays on top as the residual
      case f @ Filter(cond, child) if f.resolved && changesOf(child).isDefined =>
        val (r, t) = changesOf(child).get
        Filter(cond, substituteChanges(r, t, Some(cond)))
      case p if changesOf(p).isDefined =>
        val (r, t) = changesOf(p).get
        substituteChanges(r, t, None)
      // full-envelope cdc relation (reads only; INSERT targets are guarded)
      case p if cdcOf(p).isDefined && !writeTargets.contains(cdcOf(p).get._1) =>
        val (r, t) = cdcOf(p).get
        substituteCdc(r, t)
      // WAP audit view (read-only; INSERT targets stay relations)
      case p if wapOf(p).isDefined && !writeTargets.contains(wapOf(p).get._1) =>
        val (r, t) = wapOf(p).get
        substituteWap(r, t)
      // typed materialized-view read-back (read-only; INSERT targets stay)
      case p if martViewOf(p).isDefined && !writeTargets.contains(martViewOf(p).get._1) =>
        val (r, t) = martViewOf(p).get
        substituteMartView(r, t)
    }
  }

  // ----------------------------------------------------------- MERGE INTO
  // Graft tables don't implement row-level-operation planning (the LWW
  // merge IS the row-level operation). The two canonical shapes keep a
  // zero-target-scan fast path:
  //   ON <all key cols equal>
  //   WHEN MATCHED THEN UPDATE SET *  WHEN NOT MATCHED THEN INSERT *
  //     → upsert every source row (GraftMergeUpsertCommand), and
  //   WHEN MATCHED THEN DELETE (nothing else)
  //     → tombstone target keys present in the source.
  // Everything else that is still expressible as CDC events — conditional
  // matched actions, partial SET lists, conditional INSERT, NOT MATCHED BY
  // SOURCE delete/update — decomposes via [[generalMergeRewrite]] into
  // filtered joins against the live winners, all committed through ONE
  // fenced merge (GraftMergeCommand). Non-lowerable pieces (non-star
  // INSERT, SET on key/ordering/op, non-key ON) are left unrewritten, so
  // Spark fails them with its own loud unsupported-table error.

  /** `e` is column `name` of `from` (through resolution-inserted casts). */
  private def sameCol(e: Expression, name: String, from: AttributeSet): Boolean = e match {
    case a: Attribute => a.name == name && from.contains(a)
    case c: Cast => sameCol(c.child, name, from)
    case Alias(inner, _) => sameCol(inner, name, from)
    case _ => false
  }

  /** ON clause = conjunction of target.k == source.k over EXACTLY the merge
    * key columns. */
  private def keyEquiCondition(
      cond: Expression, tOut: AttributeSet, sOut: AttributeSet): Option[Map[String, Attribute]] = {
    val pairs = conjuncts(cond).map {
      case EqualTo(a: Attribute, b: Attribute)
        if tOut.contains(a) && sOut.contains(b) && a.name == b.name => Some(a.name -> b)
      case EqualTo(b: Attribute, a: Attribute)
        if tOut.contains(a) && sOut.contains(b) && a.name == b.name => Some(a.name -> b)
      case _ => None
    }
    val m = pairs.flatten.toMap
    if (pairs.forall(_.isDefined) && m.keySet == MergeEngine.keyCols.toSet) Some(m)
    else None
  }

  /** Assignments are the expanded `SET *` / `INSERT *`: every target column
    * assigned its same-named source column. */
  private def starAssignments(
      assigns: Seq[Assignment], targetOut: Seq[Attribute], sOut: AttributeSet): Boolean = {
    val byName = assigns.flatMap(a => a.key match {
      case k: Attribute => Some(k.name -> a.value)
      case _ => None
    }).toMap
    byName.size == assigns.size && targetOut.length == assigns.size &&
      targetOut.forall(t => byName.get(t.name).exists(sameCol(_, t.name, sOut)))
  }

  // -------------------------------------------------------------- UPDATE
  /** `UPDATE t SET <payload cols> WHERE cond` → [[GraftUpdateCommand]] over
    * the captured plan `Project(SET applied, Filter(cond, relation))`. The
    * relation resolves to the live state at RUN time (it is no longer under
    * a DML statement node in the captured plan), so the projection yields
    * each matched winner with the new payload and its original ordering.
    * Assignments to key/ordering/op columns are rejected loudly — changing
    * a key is a DELETE + INSERT, and the ordering is engine-fabricated. */
  private def updateRewrite(u: UpdateTable): Option[LogicalPlan] = {
    val (r, t) = graftOf(u.table).get
    if (t.asOfVersion.isDefined)
      throw new UnsupportedOperationException(
        "UPDATE on a versioned (AS OF) graft relation is not supported")
    val byName = u.assignments.flatMap(a => a.key match {
      case k: Attribute => Some(k.name -> a.value)
      case _ => None
    }).toMap
    if (byName.size != u.assignments.size) return None
    val protectedCols = (MergeEngine.keyCols ++ MergeEngine.orderCols :+ "op").toSet
    val hit = byName.keySet.intersect(protectedCols)
    if (hit.nonEmpty)
      throw new UnsupportedOperationException(
        s"UPDATE may not set ${hit.mkString(", ")}: key columns identify the " +
          "CDC entity (use DELETE + INSERT) and ordering/op are engine-fabricated")
    val proj = r.output.map { o =>
      byName.get(o.name) match {
        case Some(v) if v.dataType == o.dataType => Alias(v, o.name)()
        case Some(v) => Alias(Cast(v, o.dataType,
          Some(spark.sessionState.conf.sessionLocalTimeZone)), o.name)()
        case None => o
      }
    }
    Some(GraftUpdateCommand(t.path,
      Project(proj, u.condition.map(Filter(_, u.table)).getOrElse(u.table))))
  }

  private def mergeRewrite(m: MergeIntoTable): Option[LogicalPlan] = {
    val (r, t) = graftOf(m.targetTable).get
    if (t.asOfVersion.isDefined) return None
    val sOut = m.sourceTable.outputSet
    keyEquiCondition(m.mergeCondition, AttributeSet(r.output), sOut).flatMap { keyAttrs =>
      (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
        // canonical fast paths — NO target scan: the LWW merge itself IS the
        // matched/not-matched decision, so the plain upsert/delete shapes
        // never join against the live state
        case (Seq(UpdateAction(None, up, _)), Seq(InsertAction(None, ins)), Seq())
            if starAssignments(up, r.output, sOut) && starAssignments(ins, r.output, sOut) =>
          val byName = ins.flatMap(a => a.key match {
            case k: Attribute => Some(k.name -> a.value)
            case _ => None
          }).toMap
          Some(GraftMergeUpsertCommand(t.path,
            Project(r.output.map(o => Alias(byName(o.name), o.name)()), m.sourceTable)))
        case (Seq(DeleteAction(None)), Seq(), Seq()) =>
          Some(GraftMergeDeleteCommand(t.path,
            Project(MergeEngine.keyCols.map(k => Alias(keyAttrs(k), k)()), m.sourceTable)))
        // everything else: the general decomposition (conditional actions,
        // partial SET lists, NOT MATCHED BY SOURCE)
        case _ => generalMergeRewrite(m, r, t)
      }
    }
  }

  /** General MERGE decomposition → [[GraftMergeCommand]] (VERDICT r5 #1).
    *
    * Per ANSI, each target row is decided by the FIRST action (in statement
    * order) of its match class whose condition is true — folded here into a
    * cumulative `NOT previous-conditions-true` guard on each action's
    * Filter. Lowerings:
    *  - matched `UPDATE SET *` (cond optional) → upsert of the matched
    *    source rows at SOURCE ordering (the canonical CDC replacement,
    *    filtered by the join + condition);
    *  - matched `UPDATE SET <payload subset>` → re-emit of the matched
    *    winners with the SET applied at (winner commit, lsn+1) — the UPDATE
    *    statement's lowering; SET values may reference source columns;
    *  - matched `DELETE` (cond optional) → tombstones of the matched
    *    winners;
    *  - `NOT MATCHED [AND cond] INSERT *` → upsert of the anti-joined
    *    source rows at source ordering;
    *  - `NOT MATCHED BY SOURCE [AND cond] DELETE / UPDATE SET <subset>` →
    *    tombstone / re-emit over the target-side anti-join.
    * Non-lowerable pieces (non-star INSERT, SET on key/ordering/op, non-key
    * ON — checked by the caller) return None, so Spark fails the statement
    * with its own loud unsupported-table error. */
  private def generalMergeRewrite(
      m: MergeIntoTable, r: DataSourceV2Relation, t: GraftTable): Option[LogicalPlan] = {
    val sOut = m.sourceTable.outputSet
    val tOut = AttributeSet(r.output)
    val protectedCols = (MergeEngine.keyCols ++ MergeEngine.orderCols :+ "op").toSet
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)

    // ANSI "condition is not TRUE" (null counts as not-true)
    def notTrue(e: Expression): Expression = Or(IsNull(e), Not(e))
    // first-match-wins: each action guarded by the negation of every prior
    // condition; actions after an unconditional one are unreachable
    def guarded[A <: MergeAction](as: Seq[A]): Seq[(A, Option[Expression])] = {
      val idx = as.indexWhere(_.condition.isEmpty)
      val reachable = if (idx < 0) as else as.take(idx + 1)
      var prior: Seq[Expression] = Nil
      reachable.map { a =>
        val guard = (prior.map(notTrue) ++ a.condition).reduceOption(And)
        prior = prior ++ a.condition
        (a, guard)
      }
    }
    def filtered(base: LogicalPlan, cond: Option[Expression]): LogicalPlan =
      cond.map(Filter(_, base)).getOrElse(base)
    def byNameOf(assigns: Seq[Assignment]): Option[Map[String, Expression]] = {
      val m0 = assigns.flatMap(a => a.key match {
        case k: Attribute => Some(k.name -> a.value)
        case _ => None
      }).toMap
      if (m0.size == assigns.size) Some(m0) else None
    }
    // a payload-only partial SET: identity (self) assignments drop out;
    // the remaining real assignments must avoid key/ordering/op
    def partialAssign(assigns: Seq[Assignment]): Option[Map[String, Expression]] =
      byNameOf(assigns).flatMap { bn =>
        val real = bn.filterNot { case (n, v) => sameCol(v, n, tOut) }
        if (real.keySet.exists(protectedCols.contains)) None else Some(real)
      }
    def projectWith(real: Map[String, Expression], base: LogicalPlan): LogicalPlan =
      Project(r.output.map { o =>
        real.get(o.name) match {
          case Some(v) if v.dataType == o.dataType => Alias(v, o.name)()
          case Some(v) => Alias(Cast(v, o.dataType, tz), o.name)()
          case None => o
        }
      }, base)
    def projectSource(byName: Map[String, Expression], base: LogicalPlan): LogicalPlan =
      Project(r.output.map(o => Alias(byName(o.name), o.name)()), base)
    val keyAndOrder = (MergeEngine.keyCols ++ MergeEngine.orderCols)
      .map(c => r.output.find(_.name == c).get)

    // target-winner × source (matched), source ∖ target (insert candidates),
    // target ∖ source (by-source candidates) — the relation inside each
    // resolves to the live winners at run time
    val inner = Join(m.targetTable, m.sourceTable, Inner, Some(m.mergeCondition), JoinHint.NONE)
    val sourceAnti = Join(m.sourceTable, m.targetTable, LeftAnti, Some(m.mergeCondition), JoinHint.NONE)
    val targetAnti = Join(m.targetTable, m.sourceTable, LeftAnti, Some(m.mergeCondition), JoinHint.NONE)

    val upserts = Seq.newBuilder[LogicalPlan]
    val reemits = Seq.newBuilder[LogicalPlan]
    val deletes = Seq.newBuilder[LogicalPlan]

    val matchedOk = guarded(m.matchedActions).forall {
      case (UpdateAction(_, assigns, _), guard)
          if starAssignments(assigns, r.output, sOut) =>
        byNameOf(assigns).exists { bn =>
          upserts += projectSource(bn, filtered(inner, guard)); true
        }
      case (UpdateAction(_, assigns, _), guard) =>
        partialAssign(assigns).exists { real =>
          reemits += projectWith(real, filtered(inner, guard)); true
        }
      case (DeleteAction(_), guard) =>
        deletes += Project(keyAndOrder, filtered(inner, guard)); true
      case _ => false
    }
    val insertOk = guarded(m.notMatchedActions).forall {
      case (InsertAction(_, ins), guard) if starAssignments(ins, r.output, sOut) =>
        byNameOf(ins).exists { bn =>
          upserts += projectSource(bn, filtered(sourceAnti, guard)); true
        }
      case _ => false
    }
    val bySourceOk = guarded(m.notMatchedBySourceActions).forall {
      case (DeleteAction(_), guard) =>
        deletes += Project(keyAndOrder, filtered(targetAnti, guard)); true
      case (UpdateAction(_, assigns, _), guard) =>
        // the anti-join exposes target columns only — SET values must too
        partialAssign(assigns).filter(_.values.forall(_.references.subsetOf(tOut)))
          .exists { real =>
            reemits += projectWith(real, filtered(targetAnti, guard)); true
          }
      case _ => false
    }
    if (matchedOk && insertOk && bySourceOk)
      Some(GraftMergeCommand(t.path, upserts.result(), reemits.result(), deletes.result()))
    else None
  }
}

/** Runtime attachment for sessions that were built WITHOUT
  * `spark.sql.extensions=graft.GraftExtensions` (e.g. a shared session the
  * caller does not control, like the driver's). Spark fixes a session's
  * analyzer rules at sessionState construction, so this mutates the
  * session's (shared, mutable) `SparkSessionExtensions` and derives a NEW
  * session whose analyzer picks the rules up; catalog conf is set on the
  * derived session. The primary integration stays the builder config —
  * this is the escape hatch. */
object GraftSql {
  private val attached = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSessionExtensions, java.lang.Boolean]())

  def attach(spark: SparkSession, catalogName: String = "graft",
      root: Option[String] = None): SparkSession = {
    val ext = org.apache.spark.sql.graftshim.SessionBridge.extensionsOf(spark)
    attached.synchronized {
      if (!attached.containsKey(ext)) {
        new graft.GraftExtensions().apply(ext)
        attached.put(ext, java.lang.Boolean.TRUE)
      }
    }
    val s2 = spark.newSession()
    root.foreach { r =>
      s2.conf.set(s"spark.sql.catalog.$catalogName", classOf[GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$catalogName.root", r)
    }
    s2
  }
}
