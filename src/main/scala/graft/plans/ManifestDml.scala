package graft.plans

import graft.operators.ManifestTable
import graft.sources.{FilterBands, ManifestV2, ManifestV2Table}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.{ExecutedCommandExec, LeafRunnableCommand}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{LongType, StructType}

/** SQL row-level DML for the manifest format (round 10 — r9-VERDICT
  * task 2): plans `UPDATE` and `MERGE INTO` statements over
  * [[graft.sources.ManifestV2Table]] targets onto the format's
  * copy-on-write primitives.
  *
  * Spark's built-in path for these statements requires
  * `SupportsRowLevelOperations` (a connector-side distributed write —
  * Spark computes the replacement rows and the connector streams them
  * to files). The manifest format's primitives already own the whole
  * rewrite — stats-banded touched-file discovery, staging,
  * serializable-writer publish ([[ManifestTable.updateWhereCoW]] /
  * [[ManifestTable.upsert]]) — so the integration point is the
  * PLANNER: a strategy that intercepts the analyzed command before
  * `SparkStrategies.BasicOperators` rejects it ("UPDATE TABLE is not
  * supported temporarily") and hands the statement to the primitive.
  * Installed two ways, mirroring [[AsOfJoinStrategy]]:
  * `spark.sql.extensions=graft.GraftExtensions` at session build, or
  * `bridge.addStrategy` on a live session (the Verify/Bench route —
  * `extraStrategies` run before every built-in strategy).
  *
  * Scale shape is the primitives': an UPDATE whose WHERE carries a
  * key band rewrites only the stats-admitted files; a MERGE rewrites
  * only files whose band intersects the source key range. "A MERGE
  * into 100 TB rewrites 3 files, not the table."
  */
object ManifestDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(rel, assignments, condition) =>
      targetOf(rel) match {
        case Some(t) =>
          ExecutedCommandExec(
            UpdateManifestCommand(t, assignments, condition)) :: Nil
        case None => Nil
      }
    case m: MergeIntoTable =>
      targetOf(m.targetTable) match {
        case Some(t) =>
          ExecutedCommandExec(MergeManifestCommand(t, m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions, m.withSchemaEvolution)) :: Nil
        case None => Nil
      }
    case _ => Nil
  }

  /** The ManifestV2Table under the statement's target relation (alias
    * chains included; commands plan AFTER optimization, where
    * V2ScanRelationPushDown has already turned the relation into a
    * DataSourceV2ScanRelation — match both forms). None for foreign
    * tables (built-in planning proceeds). DML against a time-travel
    * pin fails loudly — versions are immutable.
    */
  private def targetOf(plan: LogicalPlan): Option[ManifestV2Table] = {
    def ofTable(t: Table): Option[ManifestV2Table] = t match {
      case t: ManifestV2Table =>
        require(!t.pinned, s"cannot run DML against a time-travel " +
          s"snapshot of ${t.root} (VERSION/TIMESTAMP AS OF)")
        Some(t)
      case _ => None
    }
    plan match {
      case SubqueryAlias(_, child) => targetOf(child)
      case r: DataSourceV2Relation => ofTable(r.table)
      case r: DataSourceV2ScanRelation => ofTable(r.relation.table)
      case _ => None
    }
  }
}

private[plans] object ManifestDml {

  /** Fold foldable subtrees (the analyzer wraps SQL integer literals
    * compared to BIGINT columns in `CAST(lit AS BIGINT)`, and commands
    * plan from the ANALYZED tree — no optimizer constant folding ran),
    * so band extraction sees plain literals.
    */
  def foldLiterals(e: Expression): Expression = e.transform {
    case f if f.foldable && !f.isInstanceOf[Literal] =>
      Literal.create(f.eval(null), f.dataType)
  }

  /** Per-file stats bands of a DML condition, via the same
    * expression→Filter translation the V1 pushdown path uses; names
    * mapped logical→physical like every stats consumer.
    */
  def bands(conjuncts: Seq[Expression], phys: String => String)
      : FilterBands.Bands =
    FilterBands.of(conjuncts.map(foldLiterals)
      .flatMap(bridge.translateFilter(_)).toArray, phys)

  /** Rebind a resolved expression onto a fresh scan by NAME (the
    * command re-reads the touched files as a new DataFrame, so the
    * statement's attribute ids don't exist there), mapping
    * logical→physical column names on the way.
    */
  def rebind(e: Expression, phys: String => String): Column =
    bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(phys(a.name))
    })
}

/** `UPDATE t SET c = expr, … [WHERE cond]` → [[ManifestTable.updateWhereCoW]]:
  * the WHERE's pushable conjuncts become stats bands pruning the
  * candidate files, only those are rewritten (assigned values where
  * cond is TRUE, original rows otherwise — SQL semantics including
  * NULL-keeps), everything else rides the delta commit untouched.
  */
case class UpdateManifestCommand(table: ManifestV2Table,
    assignments: Seq[Assignment], condition: Option[Expression])
    extends LeafRunnableCommand with PredicateHelper {

  override def run(spark: SparkSession): Seq[Row] = {
    val root = table.root
    val latest = ManifestTable.latestVersion(root)
    val cmap = ManifestTable.columnMap(root, latest)
    def phys(n: String): String = cmap.getOrElse(n, n)
    val logical = ManifestV2.resolveSchema(spark, root, latest)
    val physSchema = StructType(logical.fields.map(f =>
      f.copy(name = phys(f.name))))
    val set = assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case k => throw new UnsupportedOperationException(
          "graft-manifest UPDATE assigns top-level columns only, got " +
          s"SET ${k.sql}")
      }
      phys(name) -> ManifestDml.rebind(a.value, phys)
    }.toMap
    val cond = condition.map(ManifestDml.rebind(_, phys))
      .getOrElse(lit(true))
    val b = ManifestDml.bands(
      condition.toSeq.flatMap(splitConjunctivePredicates), phys)
    ManifestTable.updateWhereCoW(spark, root, physSchema, cond, set,
      b.long, b.str, b.dbl, b.dec)
    Seq.empty
  }
}

/** GENERAL-shape SQL `MERGE INTO` (round 11 — the r10-VERDICT top
  * task; round 10 supported only the keyed full-row upsert): every
  * WHEN combination maps onto [[ManifestTable.mergeRewrite]]'s
  * copy-on-write core —
  *
  *  - `WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, …` (partial
  *    SET, arbitrary expressions over both sides, first-true-wins
  *    clause order, no-clause-matches keeps the row — SQL semantics
  *    including NULL-condition-is-false)
  *  - `WHEN MATCHED [AND cond] THEN DELETE`
  *  - `WHEN NOT MATCHED [AND cond] THEN INSERT (…) VALUES (…)` / `*`
  *    (unassigned columns NULL-fill)
  *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE / DELETE`
  *    (a full-table clause by definition — the touched set widens to
  *    every live file, exactly as in Delta)
  *
  * The row algebra is ONE full-outer join of the touched files'
  * rows against the (positionally `__s_i`-renamed, so target/source
  * name collisions cannot happen) source, followed by a single
  * codegen-friendly projection: per-branch action indexes computed by
  * first-true-wins `when` chains, a keep predicate dropping DELETE
  * rows and non-inserted source-only rows, and per-column images.
  * Matched rows exist only in files whose key band intersects the
  * source keys (the band admit is a superset), so the band-scoped
  * touched set loses no matches; target-side duplicate keys each get
  * their own row action (Delta's per-row semantics — the shape the
  * one-image-per-key [[ManifestTable.upsert]] must reject). Source
  * duplicate keys fail like Delta's "multiple source rows matched".
  */
case class MergeManifestCommand(table: ManifestV2Table,
    source: LogicalPlan, mergeCondition: Expression,
    matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction], schemaEvolution: Boolean)
    extends LeafRunnableCommand {

  private def unsupported(got: String): Nothing =
    throw new UnsupportedOperationException(
      "graft-manifest SQL MERGE supports keyed merges — ON t.key = " +
      "s.key (one BIGINT equality) with UPDATE/DELETE/INSERT actions " +
      s"— got $got")

  /** Normalized row-level action: condition + per-target-column
    * value expressions (None values = DELETE; `set` misses = keep the
    * target value for UPDATE, NULL-fill for INSERT).
    */
  private sealed trait RowAction {
    def cond: Option[Expression]
    def isDelete: Boolean = this.isInstanceOf[Del]
  }
  private case class Upd(cond: Option[Expression],
      set: Map[String, Expression]) extends RowAction
  private case class Del(cond: Option[Expression]) extends RowAction
  private case class Ins(cond: Option[Expression],
      values: Map[String, Expression]) extends RowAction

  override def run(spark: SparkSession): Seq[Row] = {
    val root = table.root
    val latest = ManifestTable.latestVersion(root)
    val cmap = ManifestTable.columnMap(root, latest)
    def phys(n: String): String = cmap.getOrElse(n, n)
    // MERGE … WITH SCHEMA EVOLUTION (round 11 — r10-VERDICT task 7):
    // source-only columns widen the logical schema ATOMICALLY with
    // the merge commit (the widened schema= meta rides mergeRewrite's
    // own commit — review fix: a separate pre-commit ADD would
    // survive a failed or conflicted merge as half-applied DDL);
    // existing files null-fill, zero bytes rewritten.
    val recorded = ManifestV2.resolveSchema(spark, root, latest)
    val newFields: Seq[org.apache.spark.sql.types.StructField] =
      if (!schemaEvolution) Nil
      else source.output.filterNot(a =>
          recorded.fieldNames.contains(a.name))
        .map { a =>
          require(!a.name.exists(ch => ch == ':' || ch == ',' ||
              ch == ' ' || ch == '\t'),
            s"evolved column name not header-token-safe: '${a.name}'")
          org.apache.spark.sql.types.StructField(a.name, a.dataType)
        }
    val logical = StructType(recorded.fields ++ newFields)
    // the evolved schema= meta is recomputed PER PUBLISH ATTEMPT
    // against the winning parent's recorded schema (round 12 —
    // r11-ADVICE fix: mergeRewrite only aborts on touched-set/key-band
    // conflicts, so a concurrent NON-intersecting commit that widened
    // the schema would have its column overwritten by a stale
    // pre-read evolveMeta). The merged form = parent's recorded
    // fields ++ this merge's new fields not already present.
    val evolveMetaOf: Int => String =
      if (newFields.isEmpty) _ => ""
      else parent => {
        val parentRecorded =
          ManifestV2.resolveSchema(spark, root, math.max(parent, 1))
        StructType(parentRecorded.fields ++ newFields.filterNot(f =>
          parentRecorded.fieldNames.contains(f.name))) match {
          case merged => s"schema=${ManifestTable.schemaMeta(merged)}"
        }
      }
    // newly-added columns propagate from the source through SET * /
    // INSERT * ONLY (the Delta semantics; round 12 — r11-ADVICE fix:
    // explicit assignment lists keep NULL for the new column)
    val evolvedCols: Set[String] = newFields.map(_.name).toSet
    val physSchema = StructType(logical.fields.map(f =>
      f.copy(name = phys(f.name))))
    val srcOut = source.output
    val srcIds = srcOut.map(_.exprId).toSet
    // positional source names: immune to target/source collisions AND
    // to duplicate names inside a self-joined source
    val srcName: Map[Long, String] = srcOut.zipWithIndex.map {
      case (a, i) => a.exprId.id -> s"__s_$i" }.toMap
    val srcByName = srcOut.map(a => a.name -> a).toMap

    /** Rebind a resolved statement expression onto the joined frame:
      * source attrs (by exprId) to their positional `__s_i` columns,
      * target attrs (by name) to their physical columns.
      */
    def rebind(e: Expression): Column = bridge.column(e.transform {
      case a: AttributeReference if srcIds(a.exprId) =>
        UnresolvedAttribute.quoted(srcName(a.exprId.id))
      case a: AttributeReference =>
        UnresolvedAttribute.quoted(phys(a.name))
    })

    // ON t.k = s.k — classify the sides by the source plan's attr ids
    val (key, sKeyAttr) = mergeCondition match {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if srcIds(r.exprId) && !srcIds(l.exprId) => (l.name, r)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if srcIds(l.exprId) && !srcIds(r.exprId) => (r.name, l)
      case c => unsupported(s"ON ${c.sql}")
    }
    require(logical.fields.exists(f => f.name == key &&
        f.dataType == LongType),
      s"graft-manifest MERGE keys on a BIGINT target column, got '$key'")

    def assignMap(assigns: Seq[Assignment], action: String)
        : Map[String, Expression] =
      assigns.map { a =>
        a.key match {
          case ar: AttributeReference => ar.name -> a.value
          case k => unsupported(s"$action SET ${k.sql} (top-level " +
            "columns only)")
        }
      }.toMap
    def starMap(action: String): Map[String, Expression] =
      logical.fieldNames.map { n =>
        n -> srcByName.getOrElse(n, unsupported(
          s"$action * with no source column '$n'")).asInstanceOf[Expression]
      }.toMap
    def normalize(a: MergeAction, where: String): RowAction = a match {
      case UpdateAction(c, assigns, _) =>
        Upd(c, assignMap(assigns, s"$where UPDATE"))
      case u: UpdateStarAction => Upd(u.condition, starMap(s"$where UPDATE"))
      case DeleteAction(c) => Del(c)
      case InsertAction(c, assigns) =>
        Ins(c, assignMap(assigns, s"$where INSERT"))
      case i: InsertStarAction => Ins(i.condition, starMap(s"$where INSERT"))
      case other => unsupported(s"$where action $other")
    }
    // evolved columns ride matched UPDATEs and INSERTs from the
    // source by name (NOT the not-matched-by-source branch — no
    // source row exists there) — for STAR actions only (Delta's
    // rule: SET * / INSERT * auto-propagate new columns, explicit
    // assignment lists keep NULL). The analyzer expands stars against
    // the PRE-evolution target schema, erasing the syntax, but the
    // expansion is exactly recoverable: every recorded column
    // assigned its same-named source attribute, nothing else. (A
    // hand-written list of that exact shape is semantically THE star
    // expansion, so treating it as one diverges nowhere observable.)
    def withEvolved(m: Map[String, Expression]): Map[String, Expression] =
      m ++ evolvedCols.toSeq.flatMap(n =>
        if (m.contains(n)) None
        else srcByName.get(n).map(a => n -> (a: Expression)))
    def starShaped(m: Map[String, Expression]): Boolean =
      m.size == recorded.fields.length &&
      recorded.fieldNames.forall(n => m.get(n).exists {
        case a: AttributeReference => srcIds(a.exprId) && a.name == n
        case _ => false
      })
    val mActs = matched.map(normalize(_, "WHEN MATCHED")).map {
      case Upd(c, set) if starShaped(set) => Upd(c, withEvolved(set))
      case a => a
    }
    val nActs = notMatchedBySource.map(normalize(_, "WHEN NOT MATCHED BY SOURCE"))
    val iActs = notMatched.map(normalize(_, "WHEN NOT MATCHED")).map {
      case Ins(c, values) if starShaped(values) => Ins(c, withEvolved(values))
      case a => a
    }
    mActs.foreach(a => if (a.isInstanceOf[Ins])
      unsupported("WHEN MATCHED INSERT"))
    nActs.foreach(a => if (a.isInstanceOf[Ins])
      unsupported("WHEN NOT MATCHED BY SOURCE INSERT"))
    iActs.foreach(a => if (!a.isInstanceOf[Ins])
      unsupported("WHEN NOT MATCHED with a non-INSERT action"))

    val srcDF = bridge.ofRows(spark, source)
      .toDF(srcOut.indices.map(i => s"__s_$i"): _*)
      .withColumn("__s_present", lit(true))
    val sKey = col(srcName(sKeyAttr.exprId.id))
    // Delta's "multiple source rows matched" rule, checked up front:
    // NULL source keys match nothing and are allowed (insert-path)
    val kb = srcDF.agg(
      org.apache.spark.sql.functions.count(sKey),
      org.apache.spark.sql.functions.count_distinct(sKey),
      org.apache.spark.sql.functions.count(lit(1))).head()
    require(kb.getLong(0) == kb.getLong(1),
      s"MERGE source carries duplicate ${key} values " +
      s"(${kb.getLong(0)} non-null keys, ${kb.getLong(1)} distinct) — " +
      "a target row may match at most one source row")
    // broadcast-eligibility (round 12 — r11-VERDICT task 6): the row
    // count is already in hand from the duplicate check; a small
    // source hints broadcast on the no-NMBS join shape below
    val smallSource = kb.getLong(2) <= 500000L

    val touchAll = nActs.nonEmpty
    ManifestTable.mergeRewrite(spark, root, latest, physSchema,
      phys(key), srcDF.select(sKey.as(phys(key))), touchAll,
      evolveMetaOf) { touched =>
      val tgt = touched.withColumn("__t_present", lit(true))
      // JOIN SHAPE (round 12 — r11-VERDICT task 6): a full-outer join
      // can never broadcast in Spark (both sides stream), so every
      // merge paid a sort-merge join even for a 100-row source. When
      // no NOT MATCHED BY SOURCE clause exists, the same row algebra
      // decomposes into (a) target LEFT OUTER source — matched +
      // target-only rows, build side = the source, broadcastable when
      // small — union (b) the source-only rows from an anti-join,
      // with NULL target columns. NMBS merges keep the full outer
      // (they are definitionally full-table, and the join's left side
      // is the whole table anyway).
      val joined =
        if (nActs.nonEmpty)
          tgt.join(srcDF, col(phys(key)) === sKey, "full_outer")
        else {
          val srcSide =
            if (smallSource) org.apache.spark.sql.functions.broadcast(srcDF)
            else srcDF
          val left = tgt.join(srcSide, col(phys(key)) === sKey,
            "left_outer")
          val srcOnly = physSchema.fields.foldLeft(
              srcDF.join(tgt.select(col(phys(key))),
                col(phys(key)) === sKey, "left_anti"))((d, f) =>
              d.withColumn(f.name, lit(null).cast(f.dataType)))
            .withColumn("__t_present", lit(null).cast("boolean"))
          left.unionByName(srcOnly)
        }
      val isMatched = col("__t_present").isNotNull &&
        col("__s_present").isNotNull
      val tOnly = col("__t_present").isNotNull && col("__s_present").isNull
      // first-true-wins action index per branch; -1 = no clause fired
      def actIdx(acts: Seq[RowAction]): Column =
        acts.zipWithIndex.foldRight(lit(-1)) { case ((a, i), els) =>
          when(a.cond.map(rebind).getOrElse(lit(true)), lit(i))
            .otherwise(els)
        }
      val (mAct, nAct, iAct) = (actIdx(mActs), actIdx(nActs), actIdx(iActs))
      def keepOf(acts: Seq[RowAction], idx: Column): Column = {
        val dels = acts.zipWithIndex.collect { case (a, i) if a.isDelete => i }
        if (dels.isEmpty) lit(true) else !idx.isin(dels: _*)
      }
      val keep = when(isMatched, keepOf(mActs, mAct))
        .when(tOnly, keepOf(nActs, nAct))
        // source-only rows live only via INSERT (constant false when
        // no insert clause exists — avoids a literal==literal compare)
        .otherwise(if (iActs.isEmpty) lit(false) else iAct =!= -1)
      val outCols = logical.fields.toSeq.map { f =>
        val base: Column = col(phys(f.name))
        val branches: Seq[(Column, Column)] =
          mActs.zipWithIndex.collect { case (Upd(_, set), i)
              if set.contains(f.name) =>
            (isMatched && mAct === i, rebind(set(f.name))) } ++
          nActs.zipWithIndex.collect { case (Upd(_, set), i)
              if set.contains(f.name) =>
            (tOnly && nAct === i, rebind(set(f.name))) } ++
          iActs.zipWithIndex.collect { case (Ins(_, values), i) =>
            (col("__t_present").isNull && iAct === i,
              values.get(f.name).map(rebind)
                .getOrElse(lit(null))) }
        branches.foldRight(base) { case ((c, v), els) =>
          when(c, v).otherwise(els)
        }.cast(f.dataType).as(phys(f.name))
      }
      joined.filter(keep).select(outCols: _*)
    }
    Seq.empty
  }
}
