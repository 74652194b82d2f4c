package graft.plans

import graft.sources.{SnapshotTable, SnapshotTableHandle}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertStarAction, LocalRelation, LogicalPlan, MergeAction, MergeIntoTable, Project, UpdateAction, UpdateStarAction, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType}

/** The analyzer rule behind the snapshot catalog's row-level SQL —
  * registered via [[graft.functions.GraftExtensions]]
  * (injectPostHocResolutionRule, the Delta-style seam for DML a DSv2
  * table cannot express through `SupportsDelete` alone):
  *
  *  - `UPDATE snap.t SET ... WHERE ...`  →
  *    [[SnapshotTable.updateMatching]] (copy-on-write of only the hit
  *    dirs)
  *  - `MERGE INTO snap.t USING src ON t.key = src.key ...`  →
  *    [[SnapshotTable.mergeIntoActions]], one path for every clause
  *    shape (the upsert, ordered conditional matched UPDATE/DELETE,
  *    ordered conditional INSERT *, ordered NOT MATCHED BY SOURCE
  *    UPDATE/DELETE); only non-key merge conditions, partial-column
  *    inserts, and non-decorrelatable subqueries refuse
  *  - a SELECT over a version carrying merge-on-read delete files
  *    rewrites into the same scan-minus-broadcast-anti-join plan the API
  *    read uses, so SQL readers see deletes applied instead of refused
  *    (needs the declared key column — [[SnapshotTableHandle.keyCol]]).
  *
  * `DELETE FROM` is NOT handled here — it rides Spark's native
  * `SupportsDelete` planning against the handle. Resolved attribute
  * references are rebound by NAME onto the API's own scans (the commands
  * run against a fresh head read); expressions carrying subqueries are
  * refused rather than mis-bound. */
object SnapshotDmlRule {
  /** (dirs kept, dirs total) of the most recent predicate-driven SQL
    * dir pruning per table base — the observability seam gates pin real
    * pruning on (the SQL twin of PruneReport). */
  val lastPrune = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Int)]()
}

case class SnapshotDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def handleOf(plan: LogicalPlan): Option[SnapshotTableHandle] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case h: SnapshotTableHandle => Some(h)
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DELETE with SUBQUERIES in the condition: Spark's native
    // SupportsDelete path cannot translate them to V2 filters, so
    // uncorrelated IN (→ semi join against the scan) and uncorrelated
    // EXISTS (→ a run-time boolean) decorrelate here — the GDPR
    // erase-cascade shape through SQL. Correlated shapes, NOT IN (the
    // three-valued-NULL trap), and scalar subqueries refuse loudly.
    case d: DeleteFromTable
        if d.table.resolved && handleOf(d.table).isDefined &&
          d.condition.exists(_.isInstanceOf[PlanExpression[_]]) =>
      rewriteSubqueryDelete(handleOf(d.table).get, d)
    // plain DELETE rides the native SupportsDelete path: the relation
    // must stay a DSv2 relation for Spark to find the table's deleteWhere
    case d: DeleteFromTable => d
    case u: UpdateTable if u.table.resolved && handleOf(u.table).isDefined =>
      rewriteUpdate(handleOf(u.table).get, u)
    case m: MergeIntoTable
        if m.targetTable.resolved && m.sourceTable.resolved &&
          m.mergeCondition.resolved &&
          handleOf(m.targetTable).isDefined =>
      rewriteMerge(handleOf(m.targetTable).get, m)
    // INSERT INTO/OVERWRITE: the TARGET relation must stay a DSv2
    // relation (the write planning needs the Table); only the query side
    // may hold masked snapshot reads
    case w: V2WriteCommand => w.withNewQuery(maskReads(w.query))
    case other => maskReads(other)
  }

  /** Rewrite reads, bottom-up:
    *  - a delete-carrying snapshot relation becomes the merge-on-read
    *    plan ([[SnapshotTable.readVersion]]: version scan minus
    *    broadcast anti join on the delete keys); a rename-evolved one
    *    becomes the projection-mapped scan — both rebound to the
    *    original relation's attribute ids so parent operators are
    *    untouched;
    *  - a Filter over a BOUNDS-carrying (unmasked) relation prunes the
    *    version's dir list against the predicate's extractable range
    *    conjuncts before the scan plans — the manifest-level file
    *    skipping the API read ([[SnapshotTable.readVersionPrunedBox]])
    *    already had, now on the SQL path: at 100 TB a date-ranged SQL
    *    query over the snapshot catalog launches tasks for the matching
    *    dirs only. Pruning errs WIDE only (missing bounds keep the dir;
    *    exclusive edges prune as inclusive; the full predicate still
    *    evaluates on top). */
  private def maskReads(plan: LogicalPlan): LogicalPlan = {
    val masked = plan.transformUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[SnapshotTableHandle] &&
            r.table.asInstanceOf[SnapshotTableHandle].needsMask =>
        val h = r.table.asInstanceOf[SnapshotTableHandle]
        val api = (if (h.snap.deleteDirs.nonEmpty) {
          val key = h.keyCol.getOrElse(throw new IllegalStateException(
            s"${r.table.name()} carries delete files but no key column — " +
              "the catalog should have refused this load"))
          SnapshotTable.readVersion(session, h.base, h.snapVersion, key)
        } else { // rename-evolved, delete-free: projection-only rewrite
          SnapshotTable.readVersionData(session, h.base, h.snapVersion)
        }).queryExecution.analyzed
        rebind(api, r)
    }
    masked.transformUp {
      case f @ Filter(cond, child) =>
        val rel = EliminateSubqueryAliases(child) match {
          case r: DataSourceV2Relation => r.table match {
            case h: SnapshotTableHandle
                if !h.needsMask && (h.snap.bounds.nonEmpty ||
                  h.snap.partVals.nonEmpty) => Some((r, h))
            case _ => None
          }
          case _ => None
        }
        rel.fold(f: LogicalPlan) { case (r, h) =>
          prunedScan(r, h, cond) match {
            case None => f
            case Some(newRel) => Filter(cond, child.transformUp {
              case rr: DataSourceV2Relation if rr eq r => newRel
            })
          }
        }
    }
  }

  /** Rebind a replacement plan to the original relation's output
    * attribute ids (names/arity must match — pinned). */
  private def rebind(newPlan: LogicalPlan,
      r: DataSourceV2Relation): LogicalPlan = {
    require(newPlan.output.length == r.output.length &&
      newPlan.output.zip(r.output).forall { case (n, o) => n.name == o.name },
      s"read rewrite of ${r.table.name()} changed the column set: " +
        s"${newPlan.output.map(_.name)} vs ${r.output.map(_.name)}")
    Project(newPlan.output.zip(r.output).map { case (n, o) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, newPlan)
  }

  /** Manifest-bounds dir pruning against the filter's extractable
    * conjuncts: Some(rebound pruned relation) when at least one dir
    * drops, None when nothing extractable or nothing prunes (keep the
    * original plan — zero churn). Records (kept, total) per base in
    * [[SnapshotDmlRule.lastPrune]] whenever range edges were found, so
    * gates can pin real pruning. */
  private def prunedScan(r: DataSourceV2Relation, h: SnapshotTableHandle,
      cond: Expression): Option[LogicalPlan] = {
    val attrs = r.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, rr) => conjuncts(l) ++ conjuncts(rr)
      case other => Seq(other)
    }
    val typOf: Map[String, String] =
      h.snap.bounds.groupBy(_.col).map { case (c, bs) => c -> bs.head.typ }
    // encode a literal into the column's stored bounds ordering; None =
    // un-encodable (type mismatch, null) → the conjunct contributes no edge
    def enc(name: String, l: Literal): Option[String] =
      typOf.get(name).flatMap { typ =>
        (typ, l.dataType, l.value) match {
          case (_, _, null) => None
          case ("long", ByteType | ShortType | IntegerType | LongType, v) =>
            Some(v.toString)
          case ("date", DateType, v: Int) =>
            Some(java.time.LocalDate.ofEpochDay(v.toLong).toString)
          case ("string", StringType, v) => Some(v.toString)
          case _ => None
        }
      }
    // the column side may arrive under an analyzer coercion cast (IN
    // casts BOTH sides to the common type: `cast(k as bigint) IN (…)`).
    // Strip it only when value-preserving — identity, or integral
    // widening (the bounds encode integrals numerically, so comparison
    // stays sound); anything else contributes no edge (err wide).
    def intWidth(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 4
      case LongType => 8
      case _ => 0
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference if attrs.contains(a) => Some(a.name)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == c.child.dataType ||
            (intWidth(c.child.dataType) > 0 &&
              intWidth(c.dataType) >= intWidth(c.child.dataType)) =>
        attr(c.child)
      case _ => None
    }
    // constant side: a bare Literal OR any foldable expression (the
    // analyzer wraps int literals against bigint columns in a Cast)
    object Lit {
      def unapply(e: Expression): Option[Literal] =
        if (e.foldable && !e.exists(_.isInstanceOf[PlanExpression[_]]))
          try Some(Literal.create(e.eval(), e.dataType))
          catch { case _: Exception => None }
        else None
    }
    // TYPED edges first (the literal itself): both the bounds pruning
    // (which encodes to the stored string form) and the partition-
    // transform pruning (which renders through the transform) derive
    // from these. Exclusive bounds widen to inclusive (err wide). An IN
    // list contributes one MULTI-POINT edge per conjunct (the most
    // common pruned shape: point lookups); a list with any non-literal
    // member contributes nothing (err wide).
    val tIn: Seq[(String, Seq[Literal])] = conjuncts(cond).flatMap {
      case org.apache.spark.sql.catalyst.expressions.In(a, list)
          if list.nonEmpty =>
        attr(a).flatMap { n =>
          val vs = list.map {
            case Lit(l) => Some(l)
            case _ => None
          }
          if (vs.forall(_.isDefined)) Some(n -> vs.map(_.get)) else None
        }
      case _ => None
    }
    val tEq: Seq[(String, Literal)] = conjuncts(cond).flatMap {
      case EqualTo(a, Lit(l)) => attr(a).map(_ -> l)
      case EqualTo(Lit(l), a) => attr(a).map(_ -> l)
      case _ => None
    }
    val tLo: Seq[(String, Literal)] = conjuncts(cond).flatMap {
      case GreaterThan(a, Lit(l)) => attr(a).map(_ -> l)
      case GreaterThanOrEqual(a, Lit(l)) => attr(a).map(_ -> l)
      case LessThan(Lit(l), a) => attr(a).map(_ -> l)
      case LessThanOrEqual(Lit(l), a) => attr(a).map(_ -> l)
      case _ => None
    }
    val tHi: Seq[(String, Literal)] = conjuncts(cond).flatMap {
      case LessThan(a, Lit(l)) => attr(a).map(_ -> l)
      case LessThanOrEqual(a, Lit(l)) => attr(a).map(_ -> l)
      case GreaterThan(Lit(l), a) => attr(a).map(_ -> l)
      case GreaterThanOrEqual(Lit(l), a) => attr(a).map(_ -> l)
      case _ => None
    }
    if (tEq.isEmpty && tLo.isEmpty && tHi.isEmpty && tIn.isEmpty)
      return None
    val inEdges: Seq[(String, Seq[String])] = tIn.flatMap { case (n, ls) =>
      val vs = ls.map(enc(n, _))
      if (vs.forall(_.isDefined)) Some(n -> vs.map(_.get)) else None
    }
    val edges: Seq[(String, Option[String], Option[String])] =
      tEq.flatMap { case (n, l) =>
        enc(n, l).map(v => (n, Some(v): Option[String], Some(v))) } ++
      tLo.flatMap { case (n, l) =>
        enc(n, l).map(v => (n, Some(v): Option[String], None)) } ++
      tHi.flatMap { case (n, l) =>
        enc(n, l).map(v => (n, None: Option[String], Some(v))) }
    // string/date bounds compare in UTF-8 byte order — the order Spark
    // used when computing the stored min/max (Java String `>=` is UTF-16
    // code-unit order, which diverges on supplementary-plane chars)
    def ge(typ: String, a: String, b: String): Boolean =
      if (typ == "long") a.toLong >= b.toLong
      else SnapshotTable.utf8Compare(a, b) >= 0
    def le(typ: String, a: String, b: String): Boolean =
      if (typ == "long") a.toLong <= b.toLong
      else SnapshotTable.utf8Compare(a, b) <= 0
    // ---- partition-transform (hidden-partitioning) pruning ----
    // For each spec field whose SOURCE column carries edges, build the
    // rendered predicates that a dir's recorded tuple value must
    // satisfy: monotone transforms (identity/days/months/years/
    // truncate) take point + range edges, bucket takes points only. A
    // literal the transform cannot soundly render contributes nothing
    // (err wide); a dir with no recorded tuple is always kept; a
    // null-tuple dir fails any applicable edge (eq/range is never true
    // of a NULL source value).
    import graft.sources.PartitionSpec
    val dtOf = h.schema().fields.map(f => f.name -> f.dataType).toMap
    def fitLit(l: Literal,
        dt: org.apache.spark.sql.types.DataType): Option[(
        org.apache.spark.sql.types.DataType, Any)] =
      if (l.value == null) None
      else if (l.dataType == dt) Some((dt, l.value))
      else (intWidth(l.dataType), intWidth(dt)) match {
        // a cast-stripped integral literal re-fits to the column's own
        // width when the value fits (bucket hashing is type-sensitive)
        case (lw, cw) if lw > 0 && cw > 0 =>
          val v = BigInt(l.value.toString)
          dt match {
            case ByteType if v.isValidByte => Some((dt, v.toByte))
            case ShortType if v.isValidShort => Some((dt, v.toShort))
            case IntegerType if v.isValidInt => Some((dt, v.toInt))
            case LongType => Some((dt, v.toLong))
            case _ => None
          }
        case _ => None
      }
    def renderLit(f: PartitionSpec.PartField, l: Literal)
        : Option[String] =
      dtOf.get(f.col).flatMap(dt => fitLit(l, dt).flatMap {
        case (d2, v) => PartitionSpec.render(f, d2, v) })
    def predsFor(spec: Seq[PartitionSpec.PartField])
        : Seq[(Int, Seq[String => Boolean])] =
      spec.zipWithIndex.flatMap { case (f, i) =>
        dtOf.get(f.col).flatMap { dt =>
          val preds = scala.collection.mutable
            .ArrayBuffer.empty[String => Boolean]
          for ((n, l) <- tEq if n == f.col; r <- renderLit(f, l))
            preds += (dv => dv == r)
          for ((n, ls) <- tIn if n == f.col) {
            val rs = ls.map(renderLit(f, _))
            if (rs.forall(_.isDefined)) {
              val set = rs.flatten.toSet
              preds += (dv => set(dv))
            }
          }
          if (PartitionSpec.monotone(f)) {
            for ((n, l) <- tLo if n == f.col; r <- renderLit(f, l))
              preds += (dv => PartitionSpec.compare(f, dt, dv, r) >= 0)
            for ((n, l) <- tHi if n == f.col; r <- renderLit(f, l))
              preds += (dv => PartitionSpec.compare(f, dt, dv, r) <= 0)
          }
          if (preds.isEmpty) None else Some(i -> preds.toSeq)
        }
      }
    // one predicate set per LIVE spec: evolution pins each tuple dir to
    // the spec that rendered its values, and a tuple must only ever be
    // compared under its own spec ([[SnapshotTable.specFor]]) — a dir
    // written under days(ts) and one under bucket(8, k) can hold
    // byte-equal tuples meaning entirely different things
    val predsBySpec: Map[Int, Seq[(Int, Seq[String => Boolean])]] =
      (h.snap.dirSpecIds.valuesIterator.toSet + h.snap.partSpecId)
        .iterator.map { id =>
          id -> predsFor(if (id == h.snap.partSpecId) h.snap.partSpec
            else h.snap.partHist.getOrElse(id, Nil))
        }.toMap
    def partKeep(d: String): Boolean = h.snap.partVals.get(d) match {
      case None => true
      case Some(tuple) =>
        val preds = predsBySpec(
          h.snap.dirSpecIds.getOrElse(d, h.snap.partSpecId))
        preds.forall { case (i, ps) =>
          val dv = tuple(i)
          dv != PartitionSpec.NullValue && ps.forall(_(dv))
        }
    }
    val kept = h.snap.dataDirs.filter { d =>
      edges.forall { case (c, loOpt, hiOpt) =>
        h.snap.bounds.find(b => b.dir == d && b.col == c).forall { b =>
          loOpt.forall(lo => ge(b.typ, b.max, lo)) &&
            hiOpt.forall(hi => le(b.typ, b.min, hi))
        }
      } && inEdges.forall { case (c, vs) =>
        h.snap.bounds.find(b => b.dir == d && b.col == c).forall(b =>
          vs.exists(v => ge(b.typ, b.max, v) && le(b.typ, b.min, v)))
      } && partKeep(d)
    }
    SnapshotDmlRule.lastPrune.put(h.base,
      (kept.size, h.snap.dataDirs.size))
    if (kept.size == h.snap.dataDirs.size) None
    else if (kept.isEmpty) Some(rebind(LocalRelation(r.output.map(
      _.newInstance())), r))
    else Some(rebind(session.read.schema(h.schema())
      .parquet(kept: _*).queryExecution.analyzed, r))
  }

  /** Rebind a resolved DML expression for evaluation against the API's
    * own head scan: attribute references become plain by-name lookups.
    * Subqueries cannot be rebound this way — refuse loudly. */
  private def toCol(e: Expression, what: String): Column = {
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
      s"snapshot $what does not support subqueries — materialize the " +
        "subquery first or use the SnapshotTable API")
    ColumnBridge(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  /** Shared decorrelation for subquery-carrying DML conditions:
    * conjuncts split into plain predicates (rebound by name at run
    * time), uncorrelated `attr IN (subquery)` semi specs, and
    * uncorrelated EXISTS plans (run-time booleans). Sub plans pass
    * through [[maskReads]] AND re-analyze inside the commands' ofRows.
    * Correlated shapes, NOT IN, and scalar subqueries refuse loudly. */
  private def splitSubqueryCondition(cond: Expression, what: String)
      : (Option[Expression], Seq[(String, LogicalPlan)],
        Seq[LogicalPlan]) = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def refuse(shape: String): Nothing =
      throw new IllegalArgumentException(
        s"snapshot $what supports uncorrelated IN/EXISTS subqueries " +
          s"only — $shape is refused; materialize the subquery first " +
          "or use the SnapshotTable API")
    val plain = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val semis = scala.collection.mutable
      .ArrayBuffer.empty[(String, LogicalPlan)]
    val exists = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    conjuncts(cond).foreach {
      case InSubquery(Seq(v), l: ListQuery) =>
        if (l.outerAttrs.nonEmpty || l.plan.exists(_.expressions.exists(
            _.exists(_.isInstanceOf[PlanExpression[_]]))))
          refuse("a correlated/nested IN subquery")
        v match {
          case a: AttributeReference => semis += ((a.name, maskReads(l.plan)))
          case other => refuse(s"IN over a computed value ($other)")
        }
      case e: Exists =>
        if (e.outerAttrs.nonEmpty) refuse("a correlated EXISTS")
        exists += maskReads(e.plan)
      case e if e.exists(_.isInstanceOf[PlanExpression[_]]) =>
        refuse(s"this subquery shape (${e.sql})")
      case e => plain += e
    }
    (plain.reduceOption(And), semis.toSeq, exists.toSeq)
  }

  private def rewriteSubqueryDelete(h: SnapshotTableHandle,
      d: DeleteFromTable): LogicalPlan = {
    val key = h.keyCol.getOrElse(throw new IllegalArgumentException(
      s"DELETE on ${h.name()} needs the table's key column declared " +
        "(spark.sql.catalog.<cat>.key.<tbl>)"))
    val (plain, semis, exists) =
      splitSubqueryCondition(d.condition, "DELETE")
    SnapshotDeleteSubqueryCommand(h.base, key, plain, semis, exists)
  }

  private def rewriteUpdate(h: SnapshotTableHandle,
      u: UpdateTable): LogicalPlan = {
    val sets = u.assignments.flatMap { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case ua: UnresolvedAttribute if ua.nameParts.length == 1 => ua.name
        case other => throw new UnsupportedOperationException(
          s"snapshot UPDATE sets top-level columns only, got ${other.sql}")
      }
      a.value match {
        // identity assignments (alignment expands SET to every column)
        case v: AttributeReference if v.name == name => None
        case v => Some(name -> toCol(v, "UPDATE SET"))
      }
    }
    // the condition decorrelates like DELETE's
    // ([[rewriteSubqueryDelete]]): uncorrelated IN → marker-join specs
    // evaluated by updateMatching, uncorrelated EXISTS → run-time
    // boolean, other subquery shapes refuse; a subquery-free condition
    // is all plain conjuncts
    val (plain, semis, exists) = u.condition
      .map(splitSubqueryCondition(_, "UPDATE"))
      .getOrElse((None, Nil, Nil))
    SnapshotUpdateSubqueryCommand(h.base, sets, plain, semis, exists)
  }

  /** Decorrelate a subquery-carrying MERGE clause condition, mirroring
    * [[splitSubqueryCondition]]'s shape rules: top-level-conjunct
    * uncorrelated `attr IN (subquery)` becomes a semi MARKER (the
    * engine left-joins the DISTINCT values onto the attr's side and the
    * condition tests `coalesce(marker, false)` — IN's three-valued
    * logic exactly), uncorrelated EXISTS becomes a run-time boolean the
    * command folds in, and everything else — correlated shapes, NOT IN,
    * scalar subqueries, casts on the IN attr — refuses loudly.
    * `ctx` names the frame the condition evaluates over: "matched"
    * (t./s. aliases), "insert" (bare source columns, so target-side IN
    * refuses per SQL scoping), "bysource" (bare target columns). */
  private def splitMergeClauseCond(cond: Expression, what: String,
      tOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      ctx: String, nextId: () => Int)
      : (Option[Expression], MergeSubqueries) = {
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, Exists, InSubquery, ListQuery, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def refuse(shape: String): Nothing =
      throw new IllegalArgumentException(
        s"snapshot MERGE $what supports uncorrelated IN/EXISTS " +
          s"subqueries only — $shape is refused; materialize the " +
          "subquery first or use the SnapshotTable API")
    val plain = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val semis = scala.collection.mutable
      .ArrayBuffer.empty[(String, Boolean, String, LogicalPlan)]
    val exists = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    conjuncts(cond).foreach {
      case InSubquery(Seq(v), l: ListQuery) =>
        if (l.outerAttrs.nonEmpty || l.plan.exists(_.expressions.exists(
            _.exists(_.isInstanceOf[PlanExpression[_]]))))
          refuse("a correlated/nested IN subquery")
        v match {
          case a: AttributeReference =>
            val targetSide = tOut.contains(a)
            if (!targetSide && !sOut.contains(a))
              refuse(s"IN over an unbound column (${a.name})")
            if (ctx == "insert" && targetSide)
              refuse("a target-column IN in a NOT MATCHED condition")
            if (ctx == "bysource" && !targetSide)
              refuse("a source-column IN in a NOT MATCHED BY SOURCE " +
                "condition")
            val mk = s"_graft_merge_sq_${nextId()}"
            semis += ((mk, targetSide, a.name, maskReads(l.plan)))
            val ref = ctx match {
              case "matched" => UnresolvedAttribute(
                Seq(if (targetSide) "t" else "s", mk))
              case _ => UnresolvedAttribute(Seq(mk))
            }
            plain += Coalesce(Seq(ref, Literal(false)))
          case other =>
            refuse(s"IN over a computed value (${other.sql})")
        }
      case e: Exists =>
        if (e.outerAttrs.nonEmpty) refuse("a correlated EXISTS")
        exists += maskReads(e.plan)
      case e if e.exists(_.isInstanceOf[PlanExpression[_]]) =>
        refuse(s"this subquery shape (${e.sql})")
      case e => plain += e
    }
    (plain.reduceOption(And), MergeSubqueries(semis.toSeq, exists.toSeq))
  }

  private def rewriteMerge(h: SnapshotTableHandle,
      m: MergeIntoTable): LogicalPlan = {
    val key = h.keyCol.getOrElse(throw new UnsupportedOperationException(
      s"MERGE INTO ${m.targetTable.schema.fieldNames.mkString("(", ",", ")")}" +
        " needs the table's key column declared " +
        "(spark.sql.catalog.<cat>.key.<tbl>)"))
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    // unwrap analyzer-inserted widening casts (an INT-typed source key
    // against a BIGINT column arrives as t.k = CAST(s.k AS BIGINT))
    def keyAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        keyAttr(c.child)
      case _ => None
    }
    val keyEq = m.mergeCondition match {
      case EqualTo(l, r) =>
        (keyAttr(l), keyAttr(r)) match {
          case (Some(a), Some(b)) =>
            a.name == key && b.name == key &&
              ((tOut.contains(a) && sOut.contains(b)) ||
                (tOut.contains(b) && sOut.contains(a)))
          case _ => false
        }
      case _ => false
    }
    require(keyEq, "snapshot MERGE condition must be exactly " +
      s"target.$key = source.$key (the declared key column), got " +
      m.mergeCondition.sql)
    val sqId = new java.util.concurrent.atomic.AtomicInteger(0)
    val nextId = () => sqId.incrementAndGet()
    def hasSub(e: Expression): Boolean =
      e.exists(_.isInstanceOf[PlanExpression[_]])
    // value = the same-name SOURCE column (the star/aligned-star shape);
    // alignment wraps narrower source columns in widening casts — strip
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        stripCast(c.child)
      case x => x
    }
    def srcIdentity(a: Assignment): Boolean =
      (a.key, stripCast(a.value)) match {
        case (k: AttributeReference, v: AttributeReference) =>
          k.name == v.name && sOut.contains(v)
        case _ => false
      }
    // NOT MATCHED: ordered `[AND cond] THEN INSERT *` clauses (star or
    // the analyzer's aligned-identity expansion). Every clause inserts
    // the identical whole source row, so SQL's first-match semantics
    // collapse to the OR of the clause conditions — one filtered insert
    // leg in the engine op. Conditions are source-scoped per SQL (there
    // is no target row); partial-column inserts stay refused.
    // identity assignments must cover EVERY target column to count as
    // the aligned-star shape: `INSERT (k) VALUES (s.k)` also arrives as
    // all-identity assignments, and treating it as star would silently
    // insert columns the statement never named
    def identityStar(as: Seq[Assignment]): Boolean =
      as.forall(srcIdentity) && as.map(_.key match {
        case a: AttributeReference => a.name
        case other => other.sql
      }).distinct.length == m.targetTable.schema.fieldNames.length
    val insertClauses: Seq[Option[Expression]] = m.notMatchedActions.map {
      case InsertStarAction(c) => c
      case InsertAction(c, as) if identityStar(as) => c
      case _ => throw new UnsupportedOperationException(
        "snapshot MERGE NOT MATCHED supports INSERT * actions " +
          "(optionally conditional) only — partial-column inserts are " +
          "refused")
    }
    for (c <- insertClauses.flatten)
      require(c.references.subsetOf(sOut),
        "snapshot MERGE NOT MATCHED condition may reference source " +
          "columns only, got " + c.sql)
    val insertUnmatched = insertClauses.nonEmpty
    // subquery-carrying INSERT conditions decorrelate PER CLAUSE (each
    // clause's EXISTS bit must stay inside its own conjunct under the
    // OR collapse, which the command rebuilds at run time); an
    // unconditional clause makes the whole OR true, so any subqueries
    // elsewhere legitimately drop with the conditions
    val insertSubbed: Seq[(Option[Column], MergeSubqueries)] =
      if (!insertUnmatched || insertClauses.exists(_.isEmpty) ||
          !insertClauses.flatten.exists(hasSub)) Nil
      else insertClauses.map { c =>
        val (pe, subs) = splitMergeClauseCond(c.get, "NOT MATCHED",
          tOut, sOut, "insert", nextId)
        (pe.map(toCol(_, "MERGE NOT MATCHED")), subs)
      }
    val insertCond: Option[Column] =
      if (!insertUnmatched || insertClauses.exists(_.isEmpty) ||
          insertSubbed.nonEmpty) None
      else Some(insertClauses.flatten
        .map(e => org.apache.spark.sql.functions.coalesce(
          toCol(e, "MERGE NOT MATCHED"),
          org.apache.spark.sql.functions.lit(false)))
        .reduce(_ || _))
    // NOT MATCHED BY SOURCE: ordered UPDATE/DELETE clauses. SQL scopes
    // conditions AND update expressions to target columns (there is no
    // source row), and the engine applies them by BARE column name —
    // enforce that scope loudly
    def requireTargetOnly(e: Expression, what: String): Unit =
      require(e.references.subsetOf(tOut),
        s"snapshot MERGE NOT MATCHED BY SOURCE $what may reference " +
          "target columns only, got " + e.sql)
    def bareSets(as: Seq[Assignment]): Seq[(String, Column)] =
      as.flatMap { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => throw new UnsupportedOperationException(
            "snapshot MERGE sets top-level columns only, got " +
              other.sql)
        }
        stripCast(a.value) match {
          case v: AttributeReference
              if v.name == name && tOut.contains(v) =>
            None // target identity: alignment's no-op padding
          case _ =>
            requireTargetOnly(a.value, "SET")
            Some(name -> toCol(a.value, "MERGE NOT MATCHED BY SOURCE SET"))
        }
      }
    def bySourceCond(c: Option[Expression])
        : (Option[Column], MergeSubqueries) = c match {
      case Some(e) if hasSub(e) =>
        val (pe, subs) = splitMergeClauseCond(e,
          "NOT MATCHED BY SOURCE", tOut, sOut, "bysource", nextId)
        (pe.map(toCol(_, "MERGE NOT MATCHED BY SOURCE")), subs)
      case _ => (c.map(toCol(_, "MERGE NOT MATCHED BY SOURCE")),
        MergeSubqueries.empty)
    }
    val bySourceSplit: Seq[(Option[Column], SnapshotTable.MatchedAction,
        MergeSubqueries)] =
      m.notMatchedBySourceActions.map {
        case DeleteAction(c) =>
          c.foreach(requireTargetOnly(_, "condition"))
          val (cc, subs) = bySourceCond(c)
          (cc, SnapshotTable.MatchedDelete: SnapshotTable.MatchedAction,
            subs)
        case UpdateAction(c, as, _) =>
          c.foreach(requireTargetOnly(_, "condition"))
          val (cc, subs) = bySourceCond(c)
          (cc, SnapshotTable.MatchedUpdate(bareSets(as))
            : SnapshotTable.MatchedAction, subs)
        case other => throw new UnsupportedOperationException(
          "snapshot MERGE NOT MATCHED BY SOURCE supports UPDATE and " +
            s"DELETE actions only, got ${other.getClass.getSimpleName}")
      }
    val bySource: Seq[(Option[Column], SnapshotTable.MatchedAction)] =
      bySourceSplit.map(x => (x._1, x._2))
    val bySourceSubs0 = bySourceSplit.map(_._3)
    // per-column sets of a matched UPDATE: assignments may be arbitrary
    // expressions over both sides — rebound onto the engine op's t./s.
    // join aliases. Alignment may have expanded unassigned columns to
    // target-identity (t.c ← t.c): dropped.
    def updateSets(as: Seq[Assignment]): Seq[(String, Column)] =
      as.flatMap { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => throw new UnsupportedOperationException(
            "snapshot MERGE sets top-level columns only, got " +
              other.sql)
        }
        stripCast(a.value) match {
          case v: AttributeReference
              if v.name == name && tOut.contains(v) =>
            None // target identity: alignment's no-op padding
          case v: AttributeReference
              if name == key && v.name == key && sOut.contains(v) =>
            None // SET key = s.key (the `SET *` expansion): the merge
                 // condition already equates the two on matched rows
          case _ => Some(name -> toMergeCol(a.value, tOut, sOut))
        }
      }
    def matchedCond(c: Option[Expression])
        : (Option[Column], MergeSubqueries) = c match {
      case Some(e) if hasSub(e) =>
        val (pe, subs) = splitMergeClauseCond(e, "MATCHED",
          tOut, sOut, "matched", nextId)
        (pe.map(toMergeCol(_, tOut, sOut)), subs)
      case _ =>
        (c.map(toMergeCol(_, tOut, sOut)), MergeSubqueries.empty)
    }
    // ordered conditional matched clauses (UPDATE/DELETE, first-match);
    // the whole-row upsert is the one-clause `UPDATE SET *` case
    val matchedSplit = m.matchedActions.map {
      case UpdateStarAction(c) =>
        // SET * = every non-key column from the same-name source
        val sets = h.schema().fieldNames.toSeq.filterNot(_ == key)
          .map(n => n ->
            org.apache.spark.sql.functions.col(s"s.`$n`"))
        val (cc, subs) = matchedCond(c)
        (cc, SnapshotTable.MatchedUpdate(sets)
          : SnapshotTable.MatchedAction, subs)
      case UpdateAction(c, as, _) =>
        val (cc, subs) = matchedCond(c)
        (cc, SnapshotTable.MatchedUpdate(updateSets(as))
          : SnapshotTable.MatchedAction, subs)
      case DeleteAction(c) =>
        val (cc, subs) = matchedCond(c)
        (cc, SnapshotTable.MatchedDelete
          : SnapshotTable.MatchedAction, subs)
      case other => throw new UnsupportedOperationException(
        "snapshot MERGE matched clauses support UPDATE and DELETE " +
          s"only, got ${other.getClass.getSimpleName}")
    }
    val matched = matchedSplit.map(x => (x._1, x._2))
    val matchedSubs0 = matchedSplit.map(_._3)
    require(matched.nonEmpty || insertUnmatched || bySource.nonEmpty,
      "snapshot MERGE needs at least one clause")
    SnapshotMergeActionsCommand(h.base, key, maskReads(m.sourceTable),
      matched, insertUnmatched, bySource, insertCond,
      matchedSubs =
        if (matchedSubs0.exists(_ != MergeSubqueries.empty))
          matchedSubs0 else Nil,
      bySourceSubs =
        if (bySourceSubs0.exists(_ != MergeSubqueries.empty))
          bySourceSubs0 else Nil,
      insertClausesSub = insertSubbed)
  }

  /** Rebind a matched-clause expression onto
    * [[SnapshotTable.mergeIntoActions]]'s internal t./s. join aliases. */
  private def toMergeCol(e: Expression,
      tOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Column = {
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
      "snapshot MERGE SET does not support subqueries — materialize " +
        "the subquery first or use the SnapshotTable API")
    ColumnBridge(e.transform {
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
    })
  }
}

/** The decorrelated subquery DELETE ([[SnapshotDmlRule]]): plain
  * conjuncts rebind by name onto the head scan, each IN spec becomes a
  * LEFT SEMI join against the (distinct, single-column) subquery result
  * — IN's three-valued semantics survive because `===` matches exactly
  * the rows where the predicate is TRUE — and uncorrelated EXISTS
  * plans evaluate once as booleans (all-true keeps the match set; any
  * false empties it, still committing the version boundary). */
case class SnapshotDeleteSubqueryCommand(base: String, key: String,
    plain: Option[Expression], semis: Seq[(String, LogicalPlan)],
    exists: Seq[LogicalPlan]) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    SnapshotTable.deleteMatching(sparkSession, base, key, scan => {
      val live = exists.forall(p =>
        !DatasetBridge.ofRows(sparkSession, p).isEmpty)
      if (!live) scan.limit(0)
      else {
        var df = scan
        for (c <- plain)
          df = df.where(ColumnBridge(c.transform {
            case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
          }))
        for (((attr, plan), i) <- semis.zipWithIndex) {
          val sub = DatasetBridge.ofRows(sparkSession, plan)
          require(sub.schema.length == 1,
            s"IN subquery must produce exactly one column, got " +
              s"${sub.schema.fieldNames.toSeq}")
          val alias = s"_gsub_$i"
          df = df.join(sub.toDF(alias).distinct(),
            df.col(attr) === org.apache.spark.sql.functions.col(alias),
            "left_semi")
        }
        df
      }
    }): Unit
    Seq.empty
  }
}

/** `UPDATE snap.t SET ... WHERE ...` — every UPDATE: runs
  * [[SnapshotTable.updateMatching]] (copy-on-write of only the dirs
  * holding a matching row) against the table's CURRENT head; the
  * commit's optimistic version claim arbitrates racers. Plain conjuncts
  * rebind by name, decorrelated IN specs become marker joins, and
  * uncorrelated EXISTS plans evaluate once — any false one makes the
  * whole UPDATE a no-op (no version boundary, matching updateWhere's
  * nothing-matched shape). */
case class SnapshotUpdateSubqueryCommand(base: String,
    sets: Seq[(String, Column)], plain: Option[Expression],
    semis: Seq[(String, LogicalPlan)], exists: Seq[LogicalPlan])
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val live = exists.forall(p =>
      !DatasetBridge.ofRows(sparkSession, p).isEmpty)
    if (!live) return Seq.empty
    val plainCol = plain.map(c => ColumnBridge(c.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }))
    val semiDfs = semis.map { case (attr, p) =>
      attr -> DatasetBridge.ofRows(sparkSession, p) }
    SnapshotTable.updateMatching(sparkSession, base, plainCol, semiDfs,
      sets): Unit
    Seq.empty
  }
}

/** Decorrelated subqueries of ONE MERGE clause condition: `semis` =
  * (marker, targetSide, attr, subplan) per uncorrelated `attr IN
  * (subquery)` conjunct — the engine left-joins the DISTINCT values and
  * the condition (already rewritten at plan time) tests the marker —
  * and `exists` = uncorrelated EXISTS plans the command evaluates once
  * as booleans at run time (row-independent by definition). */
final case class MergeSubqueries(
    semis: Seq[(String, Boolean, String, LogicalPlan)],
    exists: Seq[LogicalPlan])
object MergeSubqueries {
  val empty: MergeSubqueries = MergeSubqueries(Nil, Nil)
}

/** Every `MERGE INTO snap.t` — the clause surface (`WHEN MATCHED [AND
  * cond] THEN UPDATE/DELETE` × N in order, `WHEN NOT MATCHED [AND cond]
  * THEN INSERT *` × N in order — collapsed to one OR-of-conditions insert
  * leg, since every clause inserts the identical row — and `WHEN NOT
  * MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE` × N in order) runs
  * [[SnapshotTable.mergeIntoActions]]: first-match clause semantics,
  * copy-on-write of only the in-scope dirs. Per-clause decorrelated
  * subqueries: `matchedSubs`/`bySourceSubs` align by index with
  * `matched`/`bySource` when non-empty; `insertClausesSub` replaces
  * `insertCond` when non-empty (per-clause conditions re-collapse to
  * the OR at run time so each clause's EXISTS bit stays inside its own
  * conjunct). Subquery plans re-analyze inside ofRows, so
  * delete-carrying / rename-evolved snapshot SOURCES read masked. */
case class SnapshotMergeActionsCommand(base: String, key: String,
    source: LogicalPlan,
    matched: Seq[(Option[Column], SnapshotTable.MatchedAction)],
    insertUnmatched: Boolean,
    bySource: Seq[(Option[Column], SnapshotTable.MatchedAction)],
    insertCond: Option[Column] = None,
    matchedSubs: Seq[MergeSubqueries] = Nil,
    bySourceSubs: Seq[MergeSubqueries] = Nil,
    insertClausesSub: Seq[(Option[Column], MergeSubqueries)] = Nil)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val mkBuf = scala.collection.mutable
      .ArrayBuffer.empty[SnapshotTable.MergeSemiMarker]
    def finish(c: Option[Column], s: MergeSubqueries): Option[Column] = {
      mkBuf ++= s.semis.map { case (mk, ts, attr, p) =>
        SnapshotTable.MergeSemiMarker(mk, ts, attr,
          DatasetBridge.ofRows(sparkSession, p)) }
      if (s.exists.isEmpty) c
      else {
        val b = s.exists.forall(p =>
          !DatasetBridge.ofRows(sparkSession, p).isEmpty)
        Some(c.getOrElse(lit(true)) && lit(b))
      }
    }
    val m2 =
      if (matchedSubs.isEmpty) matched
      else matched.zip(matchedSubs).map { case ((c, a), s) =>
        (finish(c, s), a) }
    val bs2 =
      if (bySourceSubs.isEmpty) bySource
      else bySource.zip(bySourceSubs).map { case ((c, a), s) =>
        (finish(c, s), a) }
    val ic2 =
      if (insertClausesSub.isEmpty) insertCond
      else {
        val cs = insertClausesSub.map { case (c, s) => finish(c, s) }
        if (cs.exists(_.isEmpty)) None
        else Some(cs.flatten.map(c => coalesce(c, lit(false)))
          .reduce(_ || _))
      }
    SnapshotTable.mergeIntoActions(sparkSession, base, key,
      DatasetBridge.ofRows(sparkSession, source), m2,
      insertUnmatched, bs2, ic2, mkBuf.toSeq): Unit
    Seq.empty
  }
}
