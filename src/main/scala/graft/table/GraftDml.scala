package graft.table

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, EqualTo, ExprId, Expression,
  PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable,
  SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SQL `UPDATE` and `MERGE INTO` on named graft tables — the remaining
  * two corners of the Delta DML surface (DELETE rides
  * [[GraftV2Table]]'s SupportsDeleteV2 natively).
  *
  * Spark's own row-level path (`SupportsRowLevelOperations`) imposes a
  * scan/write protocol designed around group replacement; the engine
  * already HAS the right primitives — manifest envelope planning, the
  * MoR-aware impacted-file read, clustered rewrite, atomic commit — so
  * these statements compile onto them directly, the way Delta's
  * PreprocessTableUpdate/PreprocessTableMerge rewrite the analyzed
  * command instead of riding the generic protocol: an analyzer
  * POST-HOC rule ([[GraftDmlRewrite]], installed by
  * [[graft.GraftExtensions]]) replaces the resolved
  * [[UpdateTable]]/[[MergeIntoTable]] over a [[GraftV2Table]] with a
  * runnable command, before CheckAnalysis would reject the unsupported
  * node. Without the extensions installed these statements fail with
  * Spark's own unsupported-operation error — the same contract Delta
  * documents.
  *
  * Scale shape, shared by both commands:
  *  - UPDATE prunes impacted files from the WHERE conjuncts through
  *    the SAME box/bloom compiler SQL reads use
  *    ([[SnapshotPruning.keepTest]]) — a keyed/stats-ranged UPDATE
  *    rewrites its envelope, never the table;
  *  - MERGE requires an equality conjunct on the TABLE KEY (the
  *    table's declared merge dimension — [[GraftTable.commitMerge]]'s
  *    contract surfaced in SQL) and prunes impacted files by the
  *    SOURCE's key envelope, exactly like the programmatic merge;
  *    `WHEN NOT MATCHED BY SOURCE` clauses force a full-table rewrite
  *    by definition (every target row must be examined);
  *  - both read impacted files through the MoR path (masked rows
  *    neither resurrect nor count), rewrite survivors re-clustered,
  *    and commit snapshot-isolated — a no-op match burns no version.
  */
final case class GraftDmlRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def graftTarget(p: LogicalPlan): Option[GraftV2Table] = p match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2Relation => r.table match {
      case t: GraftV2Table => Some(t)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case u @ UpdateTable(tbl, assignments, condition) if u.resolved =>
      graftTarget(tbl) match {
        case Some(t) => GraftUpdateCommand(t, assignments, condition)
        case None => u
      }
    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable) match {
        case Some(t) =>
          require(!m.withSchemaEvolution,
            "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft " +
              "tables — widen first with ALTER TABLE ADD COLUMN")
          GraftMergeCommand(t, m.targetTable, m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions)
        case None => m
      }
  }
}

private[table] object GraftDml extends PredicateHelper {

  /** A resolved catalyst expression as a Column re-resolvable BY NAME
    * against a freshly-read DataFrame: attribute references lose their
    * exprIds (the new scan has new ones) and become quoted unresolved
    * names, optionally renamed (the merge join renames source columns
    * to collision-proof `__sN`). Subqueries are rejected LOUDLY — they
    * were planned against the original relation and cannot survive the
    * rebinding (the same restriction Delta's UPDATE/MERGE carry);
    * rewrite them as a join in the source. */
  def rebind(e: Expression, renames: Map[ExprId, String] = Map.empty)
      : Column = {
    if (org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        .hasSubquery(e))
      throw new UnsupportedOperationException(
        s"subqueries are not supported in graft UPDATE/MERGE conditions " +
          s"or assignments (got '$e') — rewrite the subquery as a join " +
          "in the MERGE source, or pre-compute it into a temp view")
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference =>
        UnresolvedAttribute.quoted(renames.getOrElse(a.exprId, a.name))
    })
  }

  def conjuncts(e: Expression): Seq[Expression] =
    splitConjunctivePredicates(e)

  /** The impacted manifest rows for a keep test, shared prune shape. */
  def impactedOf(t: GraftTable, entries: Array[Row],
      keep: Option[Row => Boolean]): Array[Row] =
    keep.map(test => entries.filter(test)).getOrElse(entries)

  /** Manifest-prunable/bloomable column sets for a table at a version's
    * entry shape — the same derivation commitDelete/commitDeleteMor
    * plan with ([[GraftTable.pruneSets]]). */
  def pruneCols(t: GraftTable, entries: Array[Row])
      : (Set[String], Set[String]) = t.pruneSets(entries)

  def assignName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"only top-level column assignments are supported on graft " +
        s"tables (got '$other') — the format is flat by construction")
  }

  def maintenance(spark: SparkSession, table: GraftV2Table): GraftTable = {
    require(table.pinned.isEmpty,
      s"cannot run DML against the time-travel pinned snapshot " +
        table.name())
    SnapshotSql.tableForMaintenance(spark, table.man,
      detail => throw new IllegalStateException(detail))
  }
}

/** `UPDATE <graft table> SET c = expr, ... [WHERE pred]`: impacted
  * files planned from the WHERE conjuncts' box/bloom form, read
  * MoR-aware, rewritten with each assignment applied under the
  * predicate (rows where the predicate is NULL keep their values — SQL
  * three-valued logic), survivors re-clustered, committed
  * snapshot-isolated. Returns `updated_rows`; zero matches burn no
  * version. */
final case class GraftUpdateCommand(table: GraftV2Table,
    assignments: Seq[Assignment], condition: Option[Expression])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    val t = maintenance(spark, table)
    val base = table.snapshot // the statement's one log snapshot
    val entries = base.rows
    if (entries.isEmpty) return Seq(Row(0L))
    val (prunable, bloomable) = pruneCols(t, entries)
    val keep = condition.flatMap(c => SnapshotPruning.keepTest(
      conjuncts(c), Some(t.key), prunable, bloomable))
    val impactedRows = impactedOf(t, entries, keep)
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq
    if (impacted.isEmpty) return Seq(Row(0L))
    // update mode mor (session conf > table prop mode.update > cow):
    // mask the matched rows with a deletion vector and re-append only
    // them — O(matched rows), not O(envelope); a performance hint,
    // never a semantics change
    val cond = condition.map(rebind(_)).getOrElse(lit(true))
    val sets = assignments.map(a => assignName(a) -> rebind(a.value)).toMap
    val n =
      if (t.dmlMode("update") == "mor")
        t.commitUpdateMor(cond, sets, base, impactedOnly = Some(impacted))
      else
        t.commitUpdateCow(cond, sets, base, impactedOnly = Some(impacted))
    Seq(Row(n))
  }
}

/** `MERGE INTO <graft table> t USING <source> s ON t.<key> = <expr>
  * [AND ...] WHEN [NOT] MATCHED [BY SOURCE] ...`: the SQL face of the
  * table's key-merge primitive. The ON clause MUST contain an equality
  * conjunct on the TABLE KEY (the clustered merge dimension — anything
  * else cannot plan an envelope and would be a full-table
  * theta-merge); residual conjuncts become additional match
  * conditions. Impacted files = the source key envelope's files (ALL
  * files when a `WHEN NOT MATCHED BY SOURCE` clause is present — it
  * examines every target row by definition). One full-outer join of
  * the impacted rows with the source decides each row's FIRST
  * applicable clause; matched-multiple-times target rows fail loudly
  * (the SQL standard's cardinality violation — a silent pick would be
  * a wrong answer). Returns `affected_rows` (updates + deletes +
  * inserts); zero burns no version. */
final case class GraftMergeCommand(table: GraftV2Table,
    target: LogicalPlan, source: LogicalPlan, mergeCondition: Expression,
    matchedActions: Seq[MergeAction], notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  /** Star clauses expanded by NAME against the source (the analyzer
    * usually expands them already; this covers both shapes). */
  private def starAssigns(): Seq[(String, Expression)] =
    target.output.map(_.name).map { c =>
      c -> source.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE/INSERT * needs source column '$c' (target schema " +
            s"${target.output.map(_.name).mkString(", ")})"))
        .asInstanceOf[Expression]
    }

  private def assignsOf(a: MergeAction): Option[Seq[(String, Expression)]] =
    a match {
      case UpdateAction(_, asg, _) =>
        Some(asg.map(x => GraftDml.assignName(x) -> x.value))
      case InsertAction(_, asg) =>
        Some(asg.map(x => GraftDml.assignName(x) -> x.value))
      case UpdateStarAction(_) | InsertStarAction(_) => Some(starAssigns())
      case DeleteAction(_) => None
      case other => throw new UnsupportedOperationException(
        s"unsupported MERGE action ${other.getClass.getSimpleName}")
    }

  /** The source projected to the target schema, when this statement is
    * the CANONICAL upsert routable through the deletion-vector merge —
    * None otherwise (the COW machinery handles the general case).
    * Canonical: exactly one unconditional UPDATE and one unconditional
    * INSERT, no BY SOURCE clauses, no residual ON conjuncts, both
    * clauses assigning EVERY target column the same source-only
    * expressions, and the key assignment agreeing with the ON key
    * (commitMergeMor joins on the batch's key column). */
  private def morUpsertBatch(spark: SparkSession, t: GraftTable,
      srcDf0: org.apache.spark.sql.DataFrame,
      srcRenames: Map[ExprId, String], srcKeyExpr: Expression,
      residual: Seq[Expression], srcSet: AttributeSet)
      : Option[org.apache.spark.sql.DataFrame] = {
    import GraftDml.rebind
    // session conf > table prop mode.merge > cow (GraftTable.dmlMode)
    if (t.dmlMode("merge") != "mor") return None
    val canonical = (matchedActions, notMatchedActions,
        notMatchedBySourceActions, residual) match {
      case (Seq(u), Seq(ins), Seq(), Seq())
          if u.condition.isEmpty && ins.condition.isEmpty =>
        for {
          ua <- assignsOf(u); ia <- assignsOf(ins)
          uaM = ua.toMap; iaM = ia.toMap
          tgtNames = target.output.map(_.name)
          if uaM.keySet == tgtNames.toSet && iaM.keySet == tgtNames.toSet
          if tgtNames.forall(c => uaM(c).semanticEquals(iaM(c)))
          if uaM.values.forall(_.references.subsetOf(srcSet))
          if uaM(t.key).semanticEquals(srcKeyExpr)
        } yield uaM
      case _ => None
    }
    canonical.map { sets =>
      srcDf0.select(target.output.toIndexedSeq.map(a =>
        rebind(sets(a.name), srcRenames).cast(a.dataType).as(a.name)): _*)
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    val t = maintenance(spark, table)
    val base = table.snapshot // the statement's one log snapshot

    val tgtSet = AttributeSet(target.output)
    val srcSet = AttributeSet(source.output)
    def isTargetKey(e: Expression): Boolean = e match {
      case a: AttributeReference => tgtSet.contains(a) && a.name == t.key
      case _ => false
    }
    val conj = conjuncts(mergeCondition)
    val keyEqIdx = conj.indexWhere {
      case EqualTo(l, r) =>
        (isTargetKey(l) && r.references.subsetOf(srcSet)) ||
          (isTargetKey(r) && l.references.subsetOf(srcSet))
      case _ => false
    }
    require(keyEqIdx >= 0,
      s"MERGE INTO a graft table needs an equality conjunct on the " +
        s"table key '${t.key}' in the ON clause (t.${t.key} = " +
        "<source expression>) — the key is the table's declared merge " +
        "dimension; other ON shapes cannot plan a file envelope")
    val srcKeyExpr = conj(keyEqIdx) match {
      case EqualTo(l, r) => if (isTargetKey(l)) r else l
    }
    val residual = conj.zipWithIndex.filter(_._2 != keyEqIdx).map(_._1)

    // collision-proof source column names + the source key in box space
    val srcRenames: Map[ExprId, String] = source.output.zipWithIndex
      .map { case (a, i) => a.exprId -> s"__s$i" }.toMap
    val srcDf0 = GraftSqlBridge.ofRows(spark, source)
      .toDF(source.output.indices.map(i => s"__s$i"): _*)
    val srcDf = srcDf0
      .withColumn("__src_key", rebind(srcKeyExpr, srcRenames))
      .withColumn("__s", lit(true))

    // MERGE-ON-READ routing: under spark.graft.merge.mode=mor, the
    // CANONICAL upsert (unconditional UPDATE + INSERT assigning every
    // target column the SAME source-only expressions, no residual ON
    // conjuncts, no BY SOURCE clauses) is semantically
    // `commitMergeMor(f(source))` — per-statement write cost O(source
    // churn) instead of COW's O(envelope bytes), the feasibility line
    // for continuous upserts on a uniformly-keyed 100 TB table. A
    // non-canonical statement under mor mode falls back to COW (the
    // mode is a performance hint, never a semantics change).
    morUpsertBatch(spark, t, srcDf0, srcRenames, srcKeyExpr, residual,
      srcSet).foreach { batch =>
      val dupKeys = batch.groupBy(col(t.key)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(dupKeys == 0L,
        "MERGE cardinality violation: a target row matched more than " +
          "one source row — deduplicate the source on the merge key")
      val n = batch.count()
      if (n == 0L) return Seq(Row(0L))
      t.commitMergeMor(batch, base, 2)
      return Seq(Row(n))
    }
    val keyDt = {
      base.schema.flatMap(s => s.fields.find(_.name == t.key).map(_.dataType))
        .getOrElse(srcDf.schema("__src_key").dataType)
    }
    val codec = GraftTable.codecFor(keyDt, t.key, forKey = true)
    val env = srcDf.agg(codec.loAgg("__src_key"), codec.hiAgg("__src_key"),
      count(lit(1))).head
    // An empty source is a no-op ONLY when no BY SOURCE clause exists:
    // `WHEN NOT MATCHED BY SOURCE` applies to every target row when
    // the source is empty (Delta semantics), so it must still run.
    if (env.getLong(2) == 0L && notMatchedBySourceActions.isEmpty)
      return Seq(Row(0L))

    val entries = base.rows
    val impactedRows =
      if (notMatchedBySourceActions.nonEmpty) entries
      else entries.filter(
        GraftTable.boxIntersects(_, "lo", "hi", env.get(0), env.get(1)))
    val impacted = impactedRows.map(_.getAs[String]("file")).toSeq

    val tgtDf =
      (if (impacted.isEmpty)
        // typed empty: inserts may still apply
        GraftSqlBridge.ofRows(spark,
          SnapshotSql.snapshotPlan(spark, base)).limit(0)
      else t.readAsOf(base, impacted))
        .withColumn("__tid", monotonically_increasing_id())
        .withColumn("__t", lit(true))
    val tgtCols = tgtDf.columns.filterNot(c => c == "__tid" || c == "__t")
      .toIndexedSeq

    val joinCond = (Seq(col(t.key) === col("__src_key")) ++
      residual.map(rebind(_, srcRenames))).reduce(_ && _)
    val joined0 = tgtDf.join(srcDf, joinCond, "full_outer")

    // first-applicable-clause index per row: 1.. for matched clauses,
    // 101.. for not-matched-by-source, negative space unused; 0 = none
    def actCondCol(a: MergeAction): Column =
      a.condition.map(rebind(_, srcRenames)).getOrElse(lit(true))
    def firstIdx(actions: Seq[MergeAction], offset: Int): Column =
      actions.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (a, i)) =>
          val idx = lit(offset + i + 1)
          Some(acc match {
            case None => when(actCondCol(a), idx)
            case Some(c) => c.when(actCondCol(a), idx)
          })
      }.map(_.otherwise(lit(0))).getOrElse(lit(0))
    val isMatched = (col("__t") <=> lit(true)) && (col("__s") <=> lit(true))
    val isTgtOnly = (col("__t") <=> lit(true)) && col("__s").isNull
    val isSrcOnly = col("__t").isNull
    val joined = joined0
      .withColumn("__act",
        when(isMatched, firstIdx(matchedActions, 0))
          .when(isTgtOnly, firstIdx(notMatchedBySourceActions, 100))
          .otherwise(lit(0)))
      .withColumn("__iact",
        when(isSrcOnly, firstIdx(notMatchedActions, 0)).otherwise(lit(0)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // SQL cardinality rule: a target row matched by >1 source row is
      // an error, never a silent pick. Fast path first: duplicate
      // source KEYS are a precondition for any violation, and that
      // check is one small agg over the SOURCE — only when dup keys
      // exist does the exact (residual-aware) per-target-row check run
      // over the join result
      val dupKeys = srcDf.groupBy("__src_key")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
      if (dupKeys > 0L) {
        val dup = joined.filter(isMatched).groupBy("__tid")
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
        require(dup == 0L,
          "MERGE cardinality violation: a target row matched more than " +
            "one source row — deduplicate the source on the merge key")
      }

      val counts = joined.agg(
        sum(when(col("__act") > 0, 1L).otherwise(0L)),
        sum(when(col("__iact") > 0, 1L).otherwise(0L))).head
      val affected = Option(counts.get(0)).map(_.asInstanceOf[Long])
        .getOrElse(0L) +
        Option(counts.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (affected == 0L) return Seq(Row(0L)) // nothing applied: no burn

      val updCases: Seq[(Int, Map[String, Expression])] =
        (matchedActions.zipWithIndex.map { case (a, i) => (i + 1, a) } ++
          notMatchedBySourceActions.zipWithIndex.map { case (a, i) =>
            (i + 101, a) })
          .flatMap { case (idx, a) => assignsOf(a).map(m => idx -> m.toMap) }
      val delIdxs: Seq[Int] =
        matchedActions.zipWithIndex.collect {
          case (DeleteAction(_), i) => i + 1 } ++
          notMatchedBySourceActions.zipWithIndex.collect {
            case (DeleteAction(_), i) => i + 101 }

      val survivors0 = joined.filter(col("__t") <=> lit(true))
      val survivors1 =
        if (delIdxs.isEmpty) survivors0
        else survivors0.filter(!col("__act").isin(delIdxs: _*))
      val survivors = survivors1.select(tgtCols.map { c =>
        val dt = tgtDf.schema(c).dataType
        updCases.filter(_._2.contains(c)).foldLeft(Option.empty[Column]) {
          case (acc, (idx, sets)) =>
            val v = rebind(sets(c), srcRenames).cast(dt)
            Some(acc match {
              case None => when(col("__act") === idx, v)
              case Some(w) => w.when(col("__act") === idx, v)
            })
        }.map(_.otherwise(col(c)).as(c)).getOrElse(col(c))
      }: _*)

      val insCases: Seq[(Int, Map[String, Expression])] =
        notMatchedActions.zipWithIndex.flatMap { case (a, i) =>
          assignsOf(a).map(m => (i + 1) -> m.toMap) }
      val inserts = joined.filter(isSrcOnly && col("__iact") > 0)
        .select(tgtCols.map { c =>
          val dt = tgtDf.schema(c).dataType
          insCases.filter(_._2.contains(c))
            .foldLeft(Option.empty[Column]) { case (acc, (idx, sets)) =>
              val v = rebind(sets(c), srcRenames).cast(dt)
              Some(acc match {
                case None => when(col("__iact") === idx, v)
                case Some(w) => w.when(col("__iact") === idx, v)
              })
            }.map(_.otherwise(lit(null).cast(dt)).as(c))
            .getOrElse(lit(null).cast(dt).as(c))
        }: _*)

      val replacement = survivors.unionByName(inserts)
      val stats = t.fileStats(t.stagedAppend(replacement,
        t.sizedParts(2, t.entryBytes(impactedRows))))
      t.commit(base, "MERGE INTO", GraftTable.Rule.NoRebase())(_ =>
        Some(GraftTable.Actions(Some(stats), removed = impacted,
          schemaDdl = base.schema.map(_.toDDL))))
      Seq(Row(affected))
    } finally { joined.unpersist(); () }
  }
}
