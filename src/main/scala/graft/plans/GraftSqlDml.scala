package graft.plans

import graft.operators.{GraftTable, ZoneMap}
import graft.sources.GraftTableV2
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, BinaryComparison, Cast, EqualNullSafe, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable,
  SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.{CatalystBridge, ColumnBridge,
  PlanBridge}
import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType,
  TimestampType}

/** The SQL DML front door for graft-catalog tables: Spark's connector
  * API has no non-row-level contract for `UPDATE` and `MERGE INTO` (a
  * table must implement `SupportsRowLevelOperations` and accept the
  * engine's group-rewrite plans), so this POST-HOC RESOLUTION rule —
  * injected by [[GraftExtensions]] — rewrites the RESOLVED
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` plans over a
  * [[GraftTableV2]] into commands on the table's own transactional
  * machinery ([[GraftTable!.dmlWhereCnf]]'s pruned rewrite for DELETE
  * and UPDATE, [[GraftTable!.mergeSpec]]'s pruned merge). The analyzer's
  * own row-level rewrites run in the Resolution batch but leave
  * non-row-level tables untouched, so by post-hoc time these plans are
  * exactly what the user wrote, resolved.
  *
  * Supported MERGE shapes (the engine's merge semantics; anything else
  * refuses loudly with the API route):
  *  - the GENERAL clause algebra: at most one `WHEN MATCHED [AND c]
  *    THEN UPDATE SET …` and at most one `WHEN MATCHED [AND c] THEN
  *    DELETE` (first-match-wins in clause order — the SQL CDC apply),
  *    plus at most one `WHEN NOT MATCHED [AND c] THEN INSERT …`, in any
  *    combination. UPDATE SET expressions may reference the stored row
  *    (`SET value = t.value + s.delta` accumulates); matched conditions
  *    may reference both sides; a NOT MATCHED condition the source
  *    only. All wings evaluate on the engine merge's own full-outer
  *    join ([[GraftTable.MergeSpec]]) — one pruned head read per
  *    statement, no pre-restriction scans.
  *  - `WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE` — the
  *    sync-merge wing, composable with any of the above (head-snapshot
  *    anti-join tombstones in the same commit) or alone.
  *  - `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET …` (alone) —
  *    deprecate-stale-rows: whole-row upserts of the unmatched stored
  *    rows with the target-expression assignments applied.
  * The ON condition is a conjunction of target-key = source-key
  * equalities (composite business keys) — the LEADING key is the
  * table's pruning axis, exactly the API contract.
  */
object GraftSqlDml extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d @ DeleteFromTable(table, condition) if d.resolved =>
        graftTarget(table) match {
          case Some((_, v2)) =>
            GraftWhereCommand(v2.tablePath, None, Some(condition))
          case None => d
        }
      case u @ UpdateTable(table, assignments, condition) if u.resolved =>
        graftTarget(table) match {
          case Some((_, v2)) =>
            GraftWhereCommand(v2.tablePath, Some(assignments), condition)
          case None => u
        }
      case m: MergeIntoTable if m.resolved =>
        graftTarget(m.targetTable) match {
          case Some((rel, v2)) =>
            // probed, not assumed: Spark's analyzer only evolves MERGE
            // targets implementing the row-level-operation contract —
            // for this table an evolution column fails resolution (or a
            // star expansion silently DROPS it), so honoring the clause
            // would silently not evolve; refuse with the API route
            require(!m.withSchemaEvolution,
              "MERGE WITH SCHEMA EVOLUTION is not supported on graft " +
                "tables — append/merge through the API evolve additively")
            GraftMergeCommand(v2.tablePath, rel.output, m.sourceTable,
              m.mergeCondition, m.matchedActions, m.notMatchedActions,
              m.notMatchedBySourceActions)
          case None => m
        }
    }

  private def graftTarget(plan: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTableV2)] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTableV2] =>
      Some((r, r.table.asInstanceOf[GraftTableV2]))
    case _ => None
  }

  /** The DML commands' result schema — Delta-style `num_affected_rows`
    * first (the count SQL clients read; null when the table's change
    * feed is off and the commit kept no row-level slice to count), the
    * engine's file set algebra after.
    */
  private[plans] val dmlOutput: Seq[Attribute] = {
    import org.apache.spark.sql.types.LongType
    Seq(AttributeReference("num_affected_rows", LongType, nullable = true)(),
      AttributeReference("files_rewritten", LongType, nullable = false)(),
      AttributeReference("files_carried", LongType, nullable = false)())
  }
}

/** Pre-CBO planning rule for the catalog READ path: rewrites every
  * catalog-resolved graft relation a plan reads — a query, or the
  * SELECT under an INSERT / CTAS — into a `LogicalRelation` over its
  * pinned version's `HadoopFsRelation` ([[graft.sources.GraftFileIndex]]),
  * with the relation's output attributes kept. The catalog then reads
  * exactly as the path reader and the table API do: Spark's file-source
  * strategy pushes the filters into the index's manifest pruning and the
  * parquet reader, and the relation's size is the manifest's real-byte
  * total, so a metadata-sized dimension auto-broadcasts. The rule runs
  * before the V2 pushdown batch, so the connector scan builder is never
  * asked for. Write targets are not children of their commands and stay
  * V2, as do the targets of DELETE / UPDATE / MERGE that
  * [[GraftSqlDml]] did not rewrite.
  */
final case class GraftV2ScanStats(spark: SparkSession)
  extends Rule[LogicalPlan] {

  import org.apache.spark.sql.execution.datasources.LogicalRelation

  // transform, not resolveOperators: optimizer-time plans are all
  // marked analyzed, and resolveOperators skips analyzed subtrees
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => plan
    case _ => plan.transform {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTableV2] =>
        val v2 = r.table.asInstanceOf[GraftTableV2]
        // COLUMN-LEVEL statistics for CBO, strictly opt-in: with
        // `spark.sql.cbo.enabled` the relation carries a synthesized
        // CatalogTable whose stats fold out of the manifest (rowCount,
        // real bytes, per-zone-column min/max/nulls/NDV) — what join
        // reordering over 3+ graft tables needs to estimate instead of
        // guess. CBO off (the default) skips the manifest fold entirely:
        // plan time is unchanged on the common path.
        val ct =
          if (spark.sessionState.conf.cboEnabled)
            Some(GraftV2ScanStats.cboCatalogTable(v2))
          else None
        LogicalRelation(v2.tbl.relation(v2.snapshotVersion),
          r.output, ct, isStreaming = false, None)
    }
  }
}

object GraftV2ScanStats {
  import org.apache.spark.sql.catalyst.TableIdentifier
  import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
    CatalogStatistics, CatalogStorageFormat, CatalogTable,
    CatalogTableType}
  import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType,
    FloatType, IntegerType, LongType, ShortType}

  /** Synthesize the CBO-facing [[CatalogTable]] for a graft relation:
    * `LogicalRelation.computeStats` serves `catalogTable.stats` as plan
    * statistics (rowCount + attributeStats under CBO), so the manifest
    * fold ([[graft.operators.GraftTable!.columnStats]]) reaches join
    * estimation without an ANALYZE TABLE pass. NDV for integral
    * columns is bounded by min(non-null rows, value-range width) — a
    * safe over-estimate cap derived from zone ranges alone; fractional
    * types get min/max/nulls without an NDV claim.
    */
  private[plans] def cboCatalogTable(v2: GraftTableV2): CatalogTable = {
    val tbl = v2.tbl
    val v = v2.snapshotVersion
    val (rows, bytes) = tbl.approxStats(v)
    val schema = tbl.schemaAt(v)
    val colStats = tbl.columnStats(v).flatMap { case (c, mn, mx, nl) =>
      schema.find(_.name == c).flatMap { f =>
        val nullCount = Some(BigInt(nl))
        f.dataType match {
          case _ if mn == null || mx == null => None
          case ByteType | ShortType | IntegerType | LongType =>
            val span = BigInt(mx.toString) - BigInt(mn.toString) + 1
            val nonNull = BigInt(rows) - BigInt(nl)
            Some(c -> CatalogColumnStat(
              distinctCount = Some(span.min(nonNull).max(1)),
              min = Some(mn.toString), max = Some(mx.toString),
              nullCount = nullCount, avgLen = None, maxLen = None))
          case FloatType | DoubleType | _: DecimalType =>
            Some(c -> CatalogColumnStat(distinctCount = None,
              min = Some(mn.toString), max = Some(mx.toString),
              nullCount = nullCount, avgLen = None, maxLen = None))
          case _ => None
        }
      }
    }.toMap
    CatalogTable(
      identifier = TableIdentifier(v2.name()),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = schema,
      provider = Some("graft-table"),
      stats = Some(CatalogStatistics(BigInt(bytes), Some(BigInt(rows)),
        colStats)))
  }
}

private[graft] object DmlExpr {

  /** Re-anchor a resolved expression on plain column names so it can
    * evaluate against the table's stored DataFrame (fresh exprIds).
    */
  def toCol(e: Expression): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** The one Catalyst → [[ZoneMap.Cnf]] translator: the data filters a
    * scan pushes to its [[graft.sources.GraftFileIndex]], a DML WHERE and
    * a compact WHERE all prune through it. Best-effort and conservative,
    * in CNF (`GraftTable.pruneFilesCnf`'s algebra): AND
    * over the conditions' top-level conjuncts, OR-groups inside. Each OR
    * arm prunes independently and unions; an IN list, and the InSet
    * Catalyst plans a long one as, expands to one Point per non-null
    * value; strict bounds widen to inclusive; an unknown shape widens its
    * group to no-prune. Exactness always rides the full residual.
    */
  def toCnf(conds: Seq[Expression]): ZoneMap.Cnf = {
    val NoPrune: Seq[Seq[ZoneMap.Pred]] = Seq(Seq.empty)
    val MaxDisjuncts = 64
    def points(c: String, vs: Seq[Any]): Seq[Seq[ZoneMap.Pred]] = {
      val arms = vs.filter(_ != null).distinct
        .map(v => Seq(ZoneMap.Point(c, v): ZoneMap.Pred))
      if (arms.isEmpty || arms.size > MaxDisjuncts) NoPrune else arms
    }
    def dnf(g: Expression): Seq[Seq[ZoneMap.Pred]] = g match {
      case Or(l, r) =>
        val u = dnf(l) ++ dnf(r)
        if (u.size > MaxDisjuncts) NoPrune else u
      case And(l, r) =>
        val (dl, dr) = (dnf(l), dnf(r))
        if (dl.size.toLong * dr.size > MaxDisjuncts) NoPrune
        else for (a <- dl; b <- dr) yield a ++ b
      case In(Stored(c), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        points(c, vs.map(v => scalaV(v.asInstanceOf[Literal])))
      case InSet(e @ Stored(c), hs) =>
        points(c, hs.toSeq.map(CatalystBridge.toScala(_, e.dataType)))
      case leaf => toPred(leaf).map(p => Seq(Seq(p))).getOrElse(NoPrune)
    }
    conds.flatMap(splitAnd).map(dnf)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Scala-space literal value (Catalyst internals like UTF8String must
    * not leak into `lit()`/[[ZoneMap.Pred]]s).
    */
  private def scalaV(l: Literal): Any =
    CatalystBridge.toScala(l.value, l.dataType)

  /** The stored column an operand reads: the attribute itself, or the
    * attribute under a widening cast — the cast Catalyst puts on a column
    * compared with a wider literal. Those casts (numeric to wider
    * numeric, date to timestamp) are monotone, and [[ZoneMap.pruner]]
    * compares in the same wider type, so the zone check stays sound. Any
    * other cast is not seen through.
    */
  private object Stored {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, t, _, _) if ((a.dataType, t) match {
          case (_: NumericType, _: NumericType) => Cast.canUpCast(a.dataType, t)
          case (DateType, TimestampType | TimestampNTZType) => true
          case _ => false
        }) => Some(a.name)
      case _ => None
    }
  }

  /** One prunable leaf: `column <op> literal` in either operand order
    * (`=`, `<=>`, `<`, `<=`, `>`, `>=`, with a non-null literal), or a
    * null test.
    */
  private def toPred(e: Expression): Option[ZoneMap.Pred] = e match {
    case IsNull(Stored(c)) => Some(ZoneMap.Nulls(c, want = true))
    case IsNotNull(Stored(c)) => Some(ZoneMap.Nulls(c, want = false))
    case b: BinaryComparison =>
      val (col, l, flipped) = (b.left, b.right) match {
        case (Stored(c), l: Literal) => (c, l, false)
        case (l: Literal, Stored(c)) => (c, l, true)
        case _ => return None
      }
      val v = if (l.value == null) return None else scalaV(l)
      b match {
        case _: EqualTo | _: EqualNullSafe => Some(ZoneMap.Point(col, v))
        case _: GreaterThan | _: GreaterThanOrEqual => Some(
          if (flipped) ZoneMap.Range(col, hi = v) else ZoneMap.Range(col, lo = v))
        case _: LessThan | _: LessThanOrEqual => Some(
          if (flipped) ZoneMap.Range(col, lo = v) else ZoneMap.Range(col, hi = v))
        case _ => None
      }
    case _ => None
  }

  /** The assigned top-level column's name; nested-field assignment has
    * no graft analogue.
    */
  def keyName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => sys.error(s"unsupported assignment target $other — " +
      "graft DML assigns top-level columns only")
  }
}

/** `DELETE FROM graft.t WHERE …` (no `assignments`) and `UPDATE
  * graft.t SET … WHERE …` → [[GraftTable!.dmlWhereCnf]]: the WHERE
  * prunes files through [[DmlExpr.toCnf]] and applies EXACTLY as the
  * residual; SET expressions evaluate against each stored row (all
  * columns addressable), cast to the stored type — the
  * [[GraftTable!.delete]]/[[GraftTable!.update]] contracts, reachable as
  * SQL text.
  */
final case class GraftWhereCommand(path: String,
    assignments: Option[Seq[Assignment]], condition: Option[Expression])
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val tbl = GraftTable.open(spark, path)
    val set = assignments.map(_.map(a =>
      DmlExpr.keyName(a) -> DmlExpr.toCol(a.value)).toMap)
    val extra = condition.map(DmlExpr.toCol).getOrElse(lit(true))
    val r = tbl.dmlWhereCnf(DmlExpr.toCnf(condition.toSeq), extra, set)
    Seq(Row(r.rowsAffected, r.filesRewritten, r.filesCarried))
  }

  override val output: Seq[Attribute] = GraftSqlDml.dmlOutput
}

/** `MERGE INTO graft.t USING src ON t.k = s.k [AND t.k2 = s.k2 …]
  * WHEN …` → [[GraftTable!.mergeCond]] / tombstone [[GraftTable!.merge]].
  * The resolved source sub-plan is planned back into a DataFrame
  * ([[PlanBridge.ofRows]]) and projected through the INSERT assignments
  * into the batch the engine's merge expects (target-named columns);
  * the matched condition and partial SET list ride as `mergeCond`'s
  * `t`/`s` condition and `updateCols`. The ON condition is a
  * CONJUNCTION of target-key = source-key equalities (composite
  * business keys); the LEADING pair is the table's pruning axis.
  * `WHEN NOT MATCHED AND c THEN INSERT` pre-filters the batch's insert
  * wing by `c` (matched rows ride regardless — their wing is the
  * UPDATE's). `WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE` — the
  * sync-merge users type first — composes the head-snapshot anti-join
  * with the engine's tombstone machinery in the SAME commit.
  */
final case class GraftMergeCommand(path: String,
    targetOutput: Seq[Attribute], source: LogicalPlan, cond: Expression,
    matched: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
    notMatched: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
    notMatchedBySource: Seq[
      org.apache.spark.sql.catalyst.plans.logical.MergeAction])
  extends LeafRunnableCommand {

  private def refuse(why: String): Nothing = sys.error(
    s"unsupported MERGE shape on graft table $path: $why — supported: " +
      "at most one WHEN MATCHED [AND c] THEN UPDATE SET … and one WHEN " +
      "MATCHED [AND c] THEN DELETE (first-match-wins), with an optional " +
      "WHEN NOT MATCHED [AND c] THEN INSERT …, each optionally with " +
      "WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE (or THEN UPDATE " +
      "alone); use the GraftTable API (merge/mergeSpec) for other shapes")

  private val OpCol = "_graft_op"

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val tbl = GraftTable.open(spark, path)
    val targetIds = targetOutput.map(_.exprId).toSet
    val srcById = source.output.map(a => a.exprId -> a.name).toMap

    // ON: a conjunction of target-key = source-key equalities; the
    // leading pair is the pruning axis (the engine's composite-merge
    // contract), so write the clustered column first
    def eqPairs(c: Expression): Seq[(String, AttributeReference)] = c match {
      case And(l, r) => eqPairs(l) ++ eqPairs(r)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if targetIds(l.exprId) && srcById.contains(r.exprId) =>
        Seq((l.name, r))
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if targetIds(r.exprId) && srcById.contains(l.exprId) =>
        Seq((r.name, l))
      case other => refuse("ON must be a conjunction of target-key = " +
        s"source-key equalities (the leading key is the pruning axis), " +
        s"got $other")
    }
    val pairs = eqPairs(cond)
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"duplicate target keys in the MERGE ON: ${pairs.map(_._1)}")
    val tKeys = pairs.map(_._1)

    val sourceDf = PlanBridge.ofRows(spark, source)
    // the source's key tuple under target names — every wing joins on it
    def srcKeyCols = pairs.map { case (tn, sa) => DmlExpr.toCol(sa).as(tn) }

    // a NOT MATCHED BY SOURCE condition may reference target columns
    // only (it evaluates against stored rows with no source row in
    // scope — standard SQL)
    def requireTargetOnly(c: Option[Expression]): Unit =
      c.foreach(e => e.references.foreach { a =>
        if (!targetIds(a.exprId)) refuse(
          "a NOT MATCHED BY SOURCE condition may reference target " +
            s"columns only, got ${a.name}")
      })
    // the stored rows no source key matches, optionally condition-
    // filtered — the sync wings' input, disjoint from every source key
    // by construction, so the batch-key contract composes
    def nmbsRows(c: Option[Expression]): org.apache.spark.sql.DataFrame = {
      requireTargetOnly(c)
      val head = tbl.read()
      c.map(e => head.filter(DmlExpr.toCol(e))).getOrElse(head)
        .join(sourceDf.select(srcKeyCols: _*).distinct(),
          tKeys, "left_anti")
    }
    // WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE: the unmatched
    // keys become tombstones riding the same commit
    val nmbsTombs: Option[org.apache.spark.sql.DataFrame] =
      notMatchedBySource match {
        case Seq() => None
        case Seq(DeleteAction(c)) =>
          Some(nmbsRows(c).select(tKeys.map(col): _*).distinct())
        case Seq(UpdateAction(_, _, _))
            if matched.isEmpty && notMatched.isEmpty =>
          None // the sync-update branch below handles it whole
        case other => refuse(
          "WHEN NOT MATCHED BY SOURCE supports THEN DELETE (composable " +
            "with the other wings) or THEN UPDATE alone, got " + other)
      }
    def withTombs(batch: org.apache.spark.sql.DataFrame, op: String)
        : org.apache.spark.sql.DataFrame = nmbsTombs match {
      case None if op == null => batch
      case None => batch.withColumn(OpCol, lit(op))
      case Some(tombs) =>
        (if (op == null) batch else batch.withColumn(OpCol, lit(op)))
          .unionByName(tombs.withColumn(OpCol, lit(GraftTable.DeleteOp)),
            allowMissingColumns = true)
    }

    val (rewritten, carried) = (matched, notMatched) match {
      // sync-delete alone: MERGE … WHEN NOT MATCHED BY SOURCE THEN DELETE
      case (Seq(), Seq()) if nmbsTombs.nonEmpty =>
        val batch = nmbsTombs.get.withColumn(OpCol,
          lit(GraftTable.DeleteOp))
        tbl.merge(batch, tKeys, OpCol)

      // sync-update alone: MERGE … WHEN NOT MATCHED BY SOURCE [AND c]
      // THEN UPDATE SET … — the deprecate-stale-rows pattern: stored
      // rows no source key matches take the assignments (target
      // expressions, evaluated against the stored row), upserted as
      // whole rows whose unassigned columns ARE the stored values
      case (Seq(), Seq())
          if notMatchedBySource.exists(_.isInstanceOf[UpdateAction]) =>
        val (c, assigns) = notMatchedBySource match {
          case Seq(UpdateAction(cc, aa, _)) => (cc, aa)
          case other => refuse(s"unsupported not-matched-by-source " +
            s"actions $other")
        }
        requireTargetOnly(c)
        assigns.foreach(a => a.value.references.foreach { r =>
          if (!targetIds(r.exprId)) refuse(
            "a NOT MATCHED BY SOURCE assignment may reference target " +
              s"columns only, got ${r.name}")
        })
        val byName = assigns.map(a => DmlExpr.keyName(a) -> a.value).toMap
        tKeys.foreach(k => if (byName.contains(k)) refuse(
          s"NOT MATCHED BY SOURCE UPDATE must not reassign merge key $k"))
        val head = tbl.read()
        val batch = nmbsRows(c).select(head.columns.toSeq.map { n =>
          byName.get(n).map(e => DmlExpr.toCol(e).as(n))
            .getOrElse(col(n))
        }: _*)
        tbl.merge(batch, tKeys, null: String)

      // WHEN MATCHED THEN DELETE (alone): key-membership tombstones
      // (+ the sync-delete wing when present)
      case (Seq(DeleteAction(None)), Seq()) =>
        val batch = withTombs(
          sourceDf.select(srcKeyCols: _*).distinct(), GraftTable.DeleteOp)
        tbl.merge(batch, tKeys, OpCol)

      // WHEN MATCHED AND c THEN DELETE (alone): the condition may
      // reference BOTH sides, so resolve it over the matched join of
      // the head snapshot (t) with the source (s) and tombstone the
      // keys of the passing pairs — the same commit composition as the
      // unconditional form (+ the sync-delete wing when present)
      case (Seq(DeleteAction(Some(c))), Seq()) =>
        val cc = ColumnBridge.column(c.transform {
          case a: AttributeReference if targetIds(a.exprId) =>
            UnresolvedAttribute(Seq("t", a.name))
          case a: AttributeReference if srcById.contains(a.exprId) =>
            UnresolvedAttribute(Seq("s", srcById(a.exprId)))
        })
        val joined = tbl.read().alias("t").join(sourceDf.alias("s"),
          pairs.map { case (tn, sa) =>
            col(s"t.$tn") === col(s"s.${sa.name}")
          }.reduce(_ && _), "inner")
        val delKeys = joined.filter(coalesce(cc, lit(false)))
          .select(tKeys.map(k => col(s"t.$k")): _*).distinct()
        tbl.merge(withTombs(delKeys, GraftTable.DeleteOp), tKeys, OpCol)

      // GENERIC CLAUSE ALGEBRA — any combination of one matched UPDATE
      // and/or one matched DELETE (first-match-wins in the user's clause
      // order, SQL semantics) with an optional conditional NOT MATCHED
      // INSERT, routed through the engine's [[GraftTable.MergeSpec]]:
      // every wing condition and every (target-referencing) SET
      // expression evaluates ROW-LEVEL on the single full-outer join the
      // merge builds anyway, so the whole statement — including the CDC
      // apply `WHEN MATCHED AND s.op = 'd' THEN DELETE WHEN MATCHED THEN
      // UPDATE … WHEN NOT MATCHED THEN INSERT …` and the accumulate form
      // `UPDATE SET value = t.value + s.delta` — costs ONE pruned head
      // read (the merge's own): no pre-restriction semi-join, no insert-
      // filter scan. Source columns the INSERT projection doesn't store
      // (a CDC op column, a delta) ride as carry-only batch columns.
      case (ms, ins)
          if ms.forall(a => a.isInstanceOf[UpdateAction] ||
            a.isInstanceOf[DeleteAction]) &&
            ms.count(_.isInstanceOf[UpdateAction]) <= 1 &&
            ms.count(_.isInstanceOf[DeleteAction]) <= 1 &&
            ins.forall(_.isInstanceOf[InsertAction]) && ins.size <= 1 &&
            (ms.nonEmpty || ins.nonEmpty) =>
        val updA = ms.collectFirst { case UpdateAction(c, as, _) => (c, as) }
        val delA = ms.collectFirst { case DeleteAction(c) => c }
        val insA = ins.collectFirst { case InsertAction(c, as) => (c, as) }
        val deleteFirst = ms.headOption.exists(_.isInstanceOf[DeleteAction])

        // batch projection: the INSERT assignments under target names
        // (the merge keys must come from the ON's source keys), or bare
        // keys for an update/delete-only statement
        val insAssigns = insA.map(_._2).getOrElse(Nil)
        val names = insAssigns.map(DmlExpr.keyName)
        require(names.distinct.size == names.size,
          s"duplicate assignment targets: $names")
        val byName = insAssigns.map(a => DmlExpr.keyName(a) -> a.value)
          .toMap
        pairs.foreach { case (tn, sa) =>
          require(insA.isEmpty || byName.get(tn).exists(
            _.semanticEquals(sa)),
            s"INSERT must set the merge key $tn from the ON condition's " +
              "source key")
        }
        val withKeys = pairs.foldLeft(byName) { case (m, (tn, sa)) =>
          if (m.contains(tn)) m else m + (tn -> (sa: Expression))
        }
        // batch column already carrying a source attr (INSERT values
        // that are bare source columns double as the s-side of the wing
        // expressions)…
        val srcToBatch0 = withKeys.collect {
          case (n, ar: AttributeReference) => ar.exprId -> n
        }
        // …and every OTHER source attr a wing condition / SET expression
        // references rides as a CARRY-ONLY column: visible to the t/s
        // expressions inside the engine, never stored, never evolves the
        // schema — how `s.op` / `s.delta` reach the join without widening
        // the table
        val needed = (updA.toSeq.flatMap { case (c, as) =>
            c.toSeq ++ as.map(_.value) } ++
          delA.toSeq.flatten ++ insA.toSeq.flatMap(_._1))
          .flatMap(_.references.toSeq)
          .filter(a => srcById.contains(a.exprId) &&
            !srcToBatch0.contains(a.exprId))
          .distinctBy(_.exprId)
        val carries = needed.zipWithIndex.map { case (a, i) =>
          a -> s"_graft_c$i" }
        val srcToBatch = srcToBatch0 ++
          carries.map { case (a, n) => a.exprId -> n }
        val batch = sourceDf.select(withKeys.toSeq
          .map { case (n, e) => DmlExpr.toCol(e).as(n) } ++
          carries.map { case (a, n) => DmlExpr.toCol(a).as(n) }: _*)

        // rewrite a clause expression onto the engine's join aliases:
        // target attrs → t.<col> (the stored row), source attrs → the
        // batch column carrying them → s.<col>
        def overTS(e: Expression): Column = ColumnBridge.column(e.transform {
          case a: AttributeReference if targetIds(a.exprId) =>
            UnresolvedAttribute(Seq("t", a.name))
          case a: AttributeReference if srcToBatch.contains(a.exprId) =>
            UnresolvedAttribute(Seq("s", srcToBatch(a.exprId)))
        })
        val tColSet = targetOutput.map(_.name).toSet
        val updateExprs = updA.toSeq.flatMap(_._2).flatMap { a =>
          val n = DmlExpr.keyName(a)
          if (tKeys.contains(n)) {
            // `UPDATE SET *` expands to EVERY column including the merge
            // key: a key reassignment is fine iff it is the ON pair's
            // no-op (k = s.k on a matched row) — drop it; anything else
            // would re-key matched rows, which a merge cannot express
            val sk = pairs.collectFirst { case (tn, sa) if tn == n => sa }
            if (!sk.exists(a.value.semanticEquals(_)))
              refuse(s"UPDATE must not reassign merge key $n (only the " +
                "no-op k = s.k of the ON condition, as SET * expands to)")
            None
          } else if (!tColSet(n)) refuse(s"UPDATE sets unknown column $n")
          else Some(n -> overTS(a.value))
        }
        require(updateExprs.map(_._1).distinct.size == updateExprs.size,
          s"duplicate UPDATE targets: ${updateExprs.map(_._1)}")
        val insCond = insA.map { case (c, _) =>
          c.foreach(_.references.foreach { a =>
            if (targetIds(a.exprId)) refuse(
              "a NOT MATCHED condition may reference source columns " +
                s"only, got target column ${a.name}")
          })
          c.map(overTS).getOrElse(ColumnBridge.column(Literal(true)))
        }
        val spec = GraftTable.MergeSpec(
          update = updA.map { case (c, _) => c.map(overTS)
            .getOrElse(ColumnBridge.column(Literal(true))) },
          updateExprs = updateExprs,
          delete = delA.map(_.map(overTS)
            .getOrElse(ColumnBridge.column(Literal(true)))),
          deleteFirst = deleteFirst, insert = insCond,
          carryCols = carries.map(_._2),
          opCol = if (nmbsTombs.isEmpty) null else OpCol)
        tbl.mergeSpec(withTombs(batch,
          if (nmbsTombs.isEmpty) null else "upsert"), tKeys, spec)

      case other => refuse(s"actions $other")
    }
    // num_affected_rows from the commit's persisted row-level slice —
    // pre-images don't double-count (update pre/post pairs count once);
    // null when the feed is off (no slice to count)
    val affected: Any = tbl.commitChanges(tbl.version).map { sl =>
      java.lang.Long.valueOf(sl.filter(col("_change_type")
        .isin("insert", "delete", "update_postimage")).count())
    }.orNull
    Seq(Row(affected, rewritten, carried))
  }

  override val output: Seq[Attribute] = GraftSqlDml.dmlOutput
}
