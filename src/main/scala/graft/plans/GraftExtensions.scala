package graft.plans

import graft.catalog.{Lake, MatchedDelete, MatchedUpdate}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeReference, Cast, EqualTo, Expression,
  MetadataAttribute, NamedExpression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  ExposesMetadataColumns, Filter, InsertIntoStatement, LeafNode,
  LogicalPlan, Project, SubqueryAlias, SupportsNonDeterministicExpression,
  UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** SQL-transparent lake access via Catalyst (SURVEY.md §4's "cleaner
  * long-term home"): `graft.<table>` resolves to a placeholder leaf during
  * analysis, and an operator-optimization rule expands it AFTER Catalyst
  * has pushed predicates down — so the conjuncts sitting on the relation
  * reach [[graft.catalog.MetadataManager.filesForScan]] as catalog stats/
  * partition pruning, exactly like the DataFrame path's `filter` argument
  * (reference ducklake_metadata_manager.cpp:1492-1593). Running inside the
  * fixed-point batch also lets column pruning and further pushdown
  * optimize ACROSS the expansion boundary.
  *
  * Register with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`), then
  * `LakeRegistry.register("graft", lake)`.
  */
object LakeRegistry {
  private val lakes =
    new java.util.concurrent.ConcurrentHashMap[String, Lake]()

  def register(alias: String, lake: Lake): Unit = lakes.put(alias, lake)
  def unregister(alias: String): Unit = lakes.remove(alias)
  def get(alias: String): Option[Lake] = Option(lakes.get(alias))
  /** an alias `lake` is registered under, if any */
  def aliasOf(lake: Lake): Option[String] = {
    import scala.jdk.CollectionConverters._
    lakes.asScala.collectFirst { case (a, l) if l eq lake => a }
  }
}

/** Bare lake relation names → registry-qualified ones; the one helper
  * behind view expansion and `Lake.sql`'s statement path. */
private[graft] object LakeNames {
  /** `plan` with every relation name that denotes a table or view of
    * `lake` qualified by `alias`. Bare `t` (schema main) and `s.t` (`s`
    * not itself a registered alias) resolve against the names this
    * handle sees: committed, overlaid with the open transaction's
    * creates, drops and renames; with `at`, the committed names of that
    * snapshot, and each table is pinned to it (`VERSION AS OF at`). A
    * name bound by an enclosing CTE stays the CTE's. A view goes through
    * `expandView` when that returns a plan (view expansion threads its
    * cycle stack this way), which also sees views already qualified by
    * `alias`; a view under time travel stays a name for the resolver.
    * The reference's metadata table functions in FROM bind to their
    * DataFrames ([[graft.catalog.Lake.tableFunction]]). */
  def qualify(plan: LogicalPlan, alias: String, lake: Lake,
      at: Option[Long] = None)(
      expandView: (String, String) => Option[LogicalPlan] = (_, _) => None)
      : LogicalPlan = {
    val tables = scala.collection.mutable.Map.empty[String, Seq[String]]
    val views = scala.collection.mutable.Map
      .empty[String, Map[String, (String, String)]]
    def tablesOf(s: String): Seq[String] = tables.getOrElseUpdate(s,
      at.fold(lake.visibleTableNames(s))(
        sid => lake.meta.listTables(sid, s).map(_.name)))
    def viewsOf(s: String): Map[String, (String, String)] =
      views.getOrElseUpdate(s, at.fold(lake.visibleViews(s))(sid =>
        lake.meta.listViews(sid, s).map { case (n, q) =>
          n.toLowerCase -> (n, q) }.toMap))
    def qualified(s: String, t: String): Seq[String] =
      if (s == "main") Seq(alias, t) else Seq(alias, s, t)
    // (schema, name, bare) of a name this lake may own
    def target(parts: Seq[String], ctes: Set[String])
        : Option[(String, String, Boolean)] = parts match {
      case Seq(t) if !ctes.contains(t.toLowerCase) => Some(("main", t, true))
      case Seq(s, t) if LakeRegistry.get(s).isEmpty => Some((s, t, true))
      case Seq(a, t) if a == alias => Some(("main", t, false))
      case Seq(a, s, t) if a == alias => Some((s, t, false))
      case _ => None
    }
    def relation(ur: UnresolvedRelation, ctes: Set[String],
        travel: Boolean): LogicalPlan =
      target(ur.multipartIdentifier, ctes).fold(ur: LogicalPlan) {
        case (s, t, bare) =>
          val view = viewsOf(s).get(t.toLowerCase).map(_._1)
          val expanded = if (travel) None else view.flatMap(expandView(s, _))
          // under time travel the name need not exist now: the resolver
          // looks it up at the snapshot
          def name = view.orElse(
            if (bare) tablesOf(s).find(_.equalsIgnoreCase(t))
              .orElse(Option.when(travel)(t))
            else Some(t))
          expanded.orElse(name.map { n =>
            val q = ur.copy(multipartIdentifier = qualified(s, n))
            if (at.isEmpty || view.isDefined || travel) q
            else RelationTimeTravel(q, None, at.map(_.toString))
          }).getOrElse(ur)
      }
    // top-down with the CTE names in scope; CTE definitions, an INSERT's
    // target and a time-travel relation are fields, not children
    def walk(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        var scope = ctes
        val defs = w.cteRelations.map { case (n, d, depth) =>
          val inner = if (w.allowRecursion) scope + n.toLowerCase else scope
          scope += n.toLowerCase
          (n, walk(d, inner).asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = walk(w.child, scope), cteRelations = defs)
      case ur: UnresolvedRelation => relation(ur, ctes, travel = false)
      case tt @ RelationTimeTravel(ur: UnresolvedRelation, _, _) =>
        tt.copy(relation = relation(ur, ctes, travel = true))
      case f: UnresolvedTableValuedFunction if f.name.size == 1 =>
        lake.tableFunction(f.name.head, f.functionArgs)
          .fold(f: LogicalPlan)(_.queryExecution.analyzed)
      case i: InsertIntoStatement =>
        i.copy(table = walk(i.table, ctes), query = walk(i.query, ctes))
      case other => other.mapChildren(walk(_, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(walk(s.plan, ctes))
      }
    }
    walk(plan, Set.empty)
  }
}

/** Resolved stand-in for a lake table: carries stable attribute ids
  * through analysis; expanded by [[ExpandLakeScan]] once predicates have
  * been pushed onto it. `version`/`tsMs` carry SQL time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`). */
case class LakeRelationPlaceholder(alias: String, table: String,
    output: Seq[Attribute], version: Option[Long] = None,
    tsMs: Option[Long] = None) extends LeafNode with ExposesMetadataColumns {
  /** The scan's virtual columns (reference ducklake_table_entry.cpp:
    * 398-411) as hidden metadata columns of the current snapshot: `WHERE
    * rowid = 3` resolves in a DML condition or a query without widening
    * `SELECT *`. A real column of the same name wins. Once merged into
    * the output they stay the metadata output, so a query that filters on
    * one and selects it resolves both against the same attribute. */
  override lazy val metadataOutput: Seq[AttributeReference] =
    if (version.isDefined || tsMs.isDefined) Nil
    else metadataOutputWithOutConflicts(
      LakeRelationPlaceholder.VirtualColumns.map { case (n, dt) =>
        MetadataAttribute(n, dt, nullable = true) },
      renameOnConflict = false)
  override def withMetadataColumns(): LogicalPlan =
    copy(output = output ++ metadataOutput.filterNot(outputSet.contains))

  /** Catalog-backed estimates (reference answers scan cardinality from
    * `ducklake_table_stats`, ducklake_multi_file_list.cpp:136-142): lets
    * every optimizer rule that fires BEFORE [[ExpandLakeScan]] — join
    * reorder under CBO, broadcast-threshold checks on not-yet-expanded
    * relations — see the table's real byte/row size instead of
    * `defaultSizeInBytes` (= "assume huge"). A small dimension read
    * through plain SQL thus broadcasts at 100 TB fact scale even when
    * the decision point precedes expansion. Cached per placeholder
    * instance; a registry/stats miss falls back to the conservative
    * default. */
  private lazy val catalogStats:
      org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val fromCatalog = for {
      lake <- LakeRegistry.get(alias)
      info <- scala.util.Try(
        lake.meta.tableByName(table.split('.').last,
          version.getOrElse(lake.currentSnapshotId()),
          if (table.contains('.')) table.split('.').head else "main"))
        .toOption.flatten
      st <- lake.meta.tableStats(info.tableId)
      if st.fileSizeBytes > 0 || st.recordCount > 0
    } yield org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(st.fileSizeBytes max 1L),
      rowCount = Some(BigInt(st.recordCount)))
    fromCatalog.getOrElse(
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = conf.defaultSizeInBytes))
  }
  override def computeStats():
      org.apache.spark.sql.catalyst.plans.logical.Statistics = catalogStats
}

object LakeRelationPlaceholder {
  val VirtualColumns = Seq("rowid" -> LongType, "snapshot_id" -> LongType,
    "filename" -> StringType, "file_row_number" -> LongType,
    "file_index" -> LongType)
}

/** `spark.sql("INSERT INTO graft.t …")` → a lake append at execution
  * time; `columns` names the query's output by position. `overwrite`
  * (INSERT OVERWRITE) replaces the table's rows in the same snapshot.
  * Static partition specs stay on the DSv2 catalog's write path; the
  * query resolves normally first, and column types are cast by the
  * lake's own append. */
case class LakeInsertCommand(alias: String, table: String,
    query: LogicalPlan, columns: Seq[String], overwrite: Boolean = false)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[Attribute] = LakeDml.countOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.graftshim.DatasetBridge
      .ofRows(session, query)
    require(df.columns.length == columns.length,
      s"INSERT provides ${df.columns.length} columns, expected " +
        s"${columns.length} (${columns.mkString(", ")})")
    val lake = LakeDml.lake(alias)
    Seq(Row(
      if (overwrite) lake.insertOverwrite(table, df.toDF(columns: _*))
      else lake.insert(table, df.toDF(columns: _*))))
  }
}

/** CREATE [OR REPLACE] VIEW through plain spark.sql: stores the view's
  * original SQL text in the lake catalog (dialect 'spark'); reads
  * resolve through the placeholder expansion in the resolution rule. */
case class LakeCreateViewCommand(alias: String, name: String,
    viewSql: String, orReplace: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    LakeDml.lake(alias).createView(name, viewSql, orReplace = orReplace)
    Nil
  }
}

/** ALTER VIEW … RENAME TO through plain spark.sql. */
case class LakeRenameViewCommand(alias: String, name: String,
    newName: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    LakeDml.lake(alias).renameView(name, newName)
    Nil
  }
}

/** DROP VIEW [IF EXISTS] through plain spark.sql. */
case class LakeDropViewCommand(alias: String, name: String,
    ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    LakeDml.lake(alias).dropView(name, ifExists = ifExists)
    Nil
  }
}

object LakeDml {
  /** DuckDB's DML result: one row, the affected-row `Count` */
  def countOutput: Seq[Attribute] =
    Seq(AttributeReference("Count", LongType, nullable = false)())

  def lake(alias: String): Lake = LakeRegistry.get(alias).getOrElse(
    throw new IllegalStateException(s"lake alias $alias unregistered"))

  /** re-anchor a resolved condition/value on column NAMES so it resolves
    * against the Lake API's own scan DataFrame */
  def toColumn(e: Expression): org.apache.spark.sql.Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
}

/** `spark.sql("DELETE FROM graft.t WHERE …")` → lake positional delete.
  * The condition may be nondeterministic, as DuckDB's `WHERE random() <
  * 0.5` is: the command evaluates it in the scan of its matched rows
  * (so may UPDATE's and MERGE's). */
case class LakeDeleteCommand(alias: String, table: String, cond: Expression)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand
    with SupportsNonDeterministicExpression {
  override def allowNonDeterministicExpression: Boolean = true
  override val output: Seq[Attribute] = LakeDml.countOutput
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(LakeDml.lake(alias).delete(table, LakeDml.toColumn(cond))))
}

/** `spark.sql("UPDATE graft.t SET … WHERE …")` → lake copy-on-write
  * update. */
case class LakeUpdateCommand(alias: String, table: String,
    assignments: Seq[(String, Expression)], cond: Option[Expression])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand
    with SupportsNonDeterministicExpression {
  override def allowNonDeterministicExpression: Boolean = true
  override val output: Seq[Attribute] = LakeDml.countOutput
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(LakeDml.lake(alias).update(table,
      assignments.map { case (n, v) => n -> LakeDml.toColumn(v) }.toMap,
      cond.map(LakeDml.toColumn).getOrElse(
        org.apache.spark.sql.functions.lit(true)))))
}

/** `spark.sql("MERGE INTO graft.t t USING src s ON t.k = s.k …")` →
  * [[graft.catalog.Lake.mergeOn]]. `matched` is the ordered WHEN MATCHED
  * list: (condition, Some(assignments) for UPDATE / None for DELETE).
  * Expressions re-anchor on `t.`/`s.`-qualified names (the aliases
  * mergeOn itself uses for the join). */
case class LakeMergeCommand(alias: String, table: String,
    source: LogicalPlan, onKeys: Seq[String],
    matched: Seq[(Option[Expression], Option[Seq[(String, Expression)]])],
    insert: Boolean,
    notMatchedCond: Option[Expression] = None,
    bySourceDeleteCond: Option[Expression] = None,
    insertValues: Option[Seq[(String, Expression)]] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand
    with SupportsNonDeterministicExpression {
  override def allowNonDeterministicExpression: Boolean = true
  override val output: Seq[Attribute] = LakeDml.countOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  private def sideQualified(e: Expression): org.apache.spark.sql.Column = {
    val srcIds = source.output.map(_.exprId).toSet
    ColumnBridge.column(e.transform {
      case a: AttributeReference =>
        val side = if (srcIds.contains(a.exprId)) "s" else "t"
        UnresolvedAttribute(Seq(side, a.name))
    })
  }
  private def values(vs: Seq[(String, Expression)])
      : Seq[(String, org.apache.spark.sql.Column)] =
    vs.map { case (n, v) => n -> sideQualified(v) }

  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.DatasetBridge
      .ofRows(session, source)
    Seq(Row(LakeDml.lake(alias).mergeOn(table, src, onKeys,
      matched.map {
        case (cond, Some(assigns)) =>
          MatchedUpdate(values(assigns).toMap, cond.map(sideQualified))
        case (cond, None) => MatchedDelete(cond.map(sideQualified))
      },
      whenNotMatchedInsert = insert,
      notMatchedCondition = notMatchedCond.map(sideQualified),
      notMatchedBySourceDelete = bySourceDeleteCond.map(sideQualified),
      notMatchedInsertValues = insertValues.map(values))))
  }
}

case class ResolveLakeRelation(spark: SparkSession)
    extends Rule[LogicalPlan] {
  private def placeholder(alias: String, table: String): LogicalPlan =
    placeholder(alias, table, LakeRegistry.get(alias).get.schemaOf(table),
      None, None)
  // time-travel reads resolve their attributes against the schema AT
  // that snapshot (columns may have been added/renamed since)
  private def placeholder(alias: String, table: String, schema: StructType,
      version: Option[Long], tsMs: Option[Long]): LogicalPlan = {
    val attrs = schema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    SubqueryAlias(table.split('.').last,
      LakeRelationPlaceholder(alias, table, attrs, version, tsMs))
  }
  private def snapshotOf(lake: Lake, table: String, version: Option[Long],
      tsMs: Option[Long]): Option[Long] =
    version.orElse(tsMs.map(ms => lake.meta.snapshotAtTime(ms).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at time $ms for $table")).snapshotId))
  private def lakeName(u: UnresolvedRelation): Option[(String, String)] =
    lakeIdent(u.multipartIdentifier)
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      // INSERT [OVERWRITE] graft.t … → lake append command. The target is
      // a field, not a child: it becomes the placeholder as soon as the
      // statement is seen, so Spark's DSv2 insert resolution never claims
      // a table of a `graft` catalog; the command waits for the query to
      // resolve so the append sees its types.
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
          if i.partitionSpec.isEmpty =>
        i.table match {
          case u: UnresolvedRelation if lakeName(u).isDefined =>
            val (alias, table) = lakeName(u).get
            i.copy(table = placeholder(alias, table))
          case t => org.apache.spark.sql.catalyst.analysis
              .EliminateSubqueryAliases(t) match {
            case p: LakeRelationPlaceholder if i.query.resolved &&
                p.version.isEmpty && p.tsMs.isEmpty =>
              // SQL INSERT matches by POSITION, to the explicit column
              // list or else the table's columns — the query's own names
              // (VALUES' col1, col2, …) never reach the files
              LakeInsertCommand(p.alias, p.table, i.query,
                if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
                else p.output.map(_.name), i.overwrite)
            case _ => i
          }
        }
      // DELETE FROM graft.t WHERE … / UPDATE graft.t SET … WHERE … →
      // lake row-level commands (condition re-anchored by column name)
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
          if d.condition.resolved => d.table match {
        case SubqueryAlias(_, p: LakeRelationPlaceholder)
            if p.version.isEmpty && p.tsMs.isEmpty =>
          LakeDeleteCommand(p.alias, p.table, d.condition)
        case _ => d
      }
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable
          if u.assignments.forall(_.resolved) &&
            u.condition.forall(_.resolved) => u.table match {
        case SubqueryAlias(_, p: LakeRelationPlaceholder)
            if p.version.isEmpty && p.tsMs.isEmpty =>
          val assigns = u.assignments.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case ua: UnresolvedAttribute => ua.name
              case other => throw new IllegalArgumentException(
                s"unsupported UPDATE target $other (top-level columns only)")
            }
            name -> a.value
          }
          LakeUpdateCommand(p.alias, p.table, assigns, u.condition)
        case _ => u
      }
      // MERGE INTO graft.t USING … — the shapes Lake.mergeOn supports
      // (AND-ed same-name key equalities; an ordered WHEN MATCHED list of
      // star/simple updates and deletes, each optionally conditioned; a
      // star or column-list insert; not-matched-by-source DELETE);
      // anything else stays for Spark's own error
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
          if m.sourceTable.resolved && m.mergeCondition.resolved &&
            !m.withSchemaEvolution =>
        import org.apache.spark.sql.catalyst.plans.logical._
        val placeholderOpt = m.targetTable match {
          case SubqueryAlias(_, SubqueryAlias(_, p: LakeRelationPlaceholder))
              if p.version.isEmpty && p.tsMs.isEmpty => Some(p)
          case SubqueryAlias(_, p: LakeRelationPlaceholder)
              if p.version.isEmpty && p.tsMs.isEmpty => Some(p)
          case _ => None
        }
        // a side may carry only the implicit cast that widens it to the
        // other side's type; mergeOn's bare `t.k === s.k` join gets the
        // same cast, while any other cast would be dropped there
        def attr(e: Expression, other: Expression)
            : Option[AttributeReference] = e match {
          case a: AttributeReference => Some(a)
          case Cast(a: AttributeReference, dt, _, _)
              if dt == other.dataType && Cast.canUpCast(a.dataType, dt) =>
            Some(a)
          case _ => None
        }
        def keys(e: Expression): Option[Seq[String]] = e match {
          case And(l, r) => for (a <- keys(l); b <- keys(r)) yield a ++ b
          case EqualTo(l, r) => for {
            a <- attr(l, r)
            b <- attr(r, l) if a.name.equalsIgnoreCase(b.name)
          } yield Seq(a.name)
          case _ => None
        }
        (placeholderOpt, keys(m.mergeCondition)) match {
          case (Some(p), Some(onKeys)) =>
            val tableCols = LakeDml.lake(p.alias).schemaOf(p.table)
              .fieldNames.toSeq
            val srcAttrByName =
              m.sourceTable.output.map(a => a.name -> a).toMap
            def named(assigns: Seq[Assignment])
                : Option[Seq[(String, Expression)]] = {
              val pairs = assigns.map { a =>
                a.key match {
                  case ar: AttributeReference => Some(ar.name -> a.value)
                  case u: UnresolvedAttribute if u.nameParts.size == 1 =>
                    Some(u.nameParts.head -> a.value)
                  case _ => None
                }
              }
              Option.when(pairs.forall(_.isDefined))(pairs.flatten)
            }
            // matched: (condition, Some(assignments) = UPDATE / None =
            // DELETE) per clause, in statement order
            val matched = m.matchedActions.map {
              case us: UpdateStarAction if tableCols.forall(
                srcAttrByName.contains) && us.condition.forall(_.resolved) =>
                Some((us.condition, Some(tableCols.map(c =>
                  c -> (srcAttrByName(c): Expression)))))
              case UpdateAction(cond, assigns, _) if cond.forall(_.resolved) =>
                named(assigns).map(a => (cond, Some(a)))
              case DeleteAction(cond) if cond.forall(_.resolved) =>
                Some((cond, None))
              case _ => None
            }
            // not-matched: star insert — or its post-analysis expansion
            // into identity assignments (each table column ← the
            // same-named source attribute) — or an explicit column list
            // `INSERT (a, b) VALUES (…)` (columns left out read their
            // table defaults) — or none. Triple: (insert?, condition,
            // explicit per-column values)
            val insertOk: Option[(Boolean, Option[Expression],
                Option[Seq[(String, Expression)]])] =
              m.notMatchedActions match {
                case Nil => Some((false, None, None))
                case Seq(is: InsertStarAction) if tableCols.forall(
                  srcAttrByName.contains) &&
                  is.condition.forall(_.resolved) =>
                  Some((true, is.condition, None))
                case Seq(InsertAction(cond, assigns))
                    if cond.forall(_.resolved) &&
                      assigns.size == tableCols.size &&
                      assigns.forall { a => (a.key, a.value) match {
                        case (k: AttributeReference, v: AttributeReference) =>
                          srcAttrByName.get(k.name)
                            .exists(_.exprId == v.exprId)
                        case _ => false
                      }} => Some((true, cond, None))
                case Seq(InsertAction(cond, assigns))
                    if cond.forall(_.resolved) &&
                      assigns.forall(_.value.resolved) =>
                  named(assigns).map(vs => (true, cond, Some(vs)))
                case _ => None
              }
            // not-matched-by-source: outer None = unsupported shape;
            // Some(None) = no action; Some(Some(cond)) = DELETE gated by
            // cond (TrueLiteral for a bare DELETE)
            val bySource: Option[Option[Expression]] =
              m.notMatchedBySourceActions match {
                case Nil => Some(None)
                case Seq(DeleteAction(cond)) if cond.forall(_.resolved) =>
                  Some(Some(cond.getOrElse(
                    org.apache.spark.sql.catalyst.expressions
                      .Literal.TrueLiteral)))
                case _ => None
              }
            (insertOk, bySource) match {
              case (Some((ins, iCond, iVals)), Some(bs))
                  if matched.forall(_.isDefined) =>
                LakeMergeCommand(p.alias, p.table, m.sourceTable, onKeys,
                  matched.flatten, ins, notMatchedCond = iCond,
                  bySourceDeleteCond = bs, insertValues = iVals)
              case _ => m
            }
          case _ => m
        }
      // SQL time travel: SELECT … FROM graft.t VERSION AS OF n
      //                  / TIMESTAMP AS OF '…' (reference AT (VERSION =>)).
      // A name that is no table there is the view stored at that
      // snapshot, its relations pinned to the same snapshot (reference
      // time_travel_views.test)
      case tt: RelationTimeTravel =>
        (tt.relation match {
          case u: UnresolvedRelation => lakeName(u)
          case _ => None
        }) match {
          case Some((alias, table)) =>
            val ver = tt.version.map(_.toLong)
            val ts = tt.timestamp.collect {
              case e if e.foldable =>
                val micros = org.apache.spark.sql.catalyst.expressions
                  .Cast(e, org.apache.spark.sql.types.TimestampType,
                    Some(spark.sessionState.conf.sessionLocalTimeZone))
                  .eval(null).asInstanceOf[Long]
                micros / 1000L
            }
            val lake = LakeDml.lake(alias)
            val sid = snapshotOf(lake, table, ver, ts)
            lake.tableSchemaAt(table, sid).fold(
              expandView(alias, table, Nil, sid))(
              placeholder(alias, table, _, ver, ts))
          case None => tt
        }
      // CREATE [OR REPLACE] VIEW graft.v AS … / DROP VIEW graft.v — Spark
      // 4.1 has no V2 ViewCatalog execution path, so route the parsed
      // view commands to the lake's view DDL here (reference gets view
      // DDL free from DuckDB's catalog).
      case cv: org.apache.spark.sql.catalyst.plans.logical.CreateView =>
        (cv.child match {
          case ui: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => lakeIdent(ui.nameParts)
          case _ => None
        }) match {
          case Some((alias, name)) if cv.originalText.isDefined =>
            LakeCreateViewCommand(alias, name, cv.originalText.get,
              cv.replace)
          case _ => cv
        }
      // ALTER VIEW graft.v RENAME TO v2 — same no-V2-path situation
      case rt: org.apache.spark.sql.catalyst.plans.logical.RenameTable
          if rt.isView =>
        (rt.child match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTableOrView => lakeIdent(u.multipartIdentifier)
          case ui: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => lakeIdent(ui.nameParts)
          case _ => None
        }) match {
          case Some((alias, name)) =>
            // normalize the target: drop a leading catalog alias, and a
            // bare target inherits the source's schema so non-main views
            // rename in place (ALTER VIEW graft.raw.v RENAME TO v2)
            val tgtParts = rt.newName.toList match {
              case a :: rest if a == alias && rest.nonEmpty => rest
              case parts => parts
            }
            val srcSchema = name.split('.') match {
              case Array(s, _) => Some(s)
              case _ => None
            }
            val target = tgtParts match {
              case List(n) =>
                srcSchema.map(s => s"$s.$n").getOrElse(n)
              case parts => parts.mkString(".")
            }
            LakeRenameViewCommand(alias, name, target)
          case _ => rt
        }
      case dv: org.apache.spark.sql.catalyst.plans.logical.DropView =>
        (dv.child match {
          case ui: org.apache.spark.sql.catalyst.analysis
              .UnresolvedIdentifier => lakeIdent(ui.nameParts)
          case _ => None
        }) match {
          case Some((alias, name)) =>
            LakeDropViewCommand(alias, name, dv.ifExists)
          case _ => dv
        }
      case u: UnresolvedRelation if lakeName(u).isDefined =>
        val (alias, table) = lakeName(u).get
        expandView(alias, table, Nil)
    }

  private def lakeIdent(parts: Seq[String]): Option[(String, String)] =
    parts match {
      case Seq(alias, name) if LakeRegistry.get(alias).isDefined =>
        Some((alias, name))
      case Seq(alias, schema, name) if LakeRegistry.get(alias).isDefined =>
        Some((alias, s"$schema.$name"))
      case _ => None
    }

  /** `graft.v` where v is a lake VIEW expands to the view's stored SQL
    * with bare lake relation names qualified by the alias — nested views
    * expand eagerly here (depth-first, cycle-checked) and base tables
    * resolve through this same rule, so catalog stats/partition pruning
    * reaches every base scan under the view (reference view tests: views
    * query like tables; view_tosql semantics). Tables take the
    * placeholder path unchanged. A self- or mutually-recursive view
    * chain fails with a clean "recursive view" error (the reference
    * fails with a max-depth error; Spark's fixpoint analyzer would
    * otherwise surface a confusing max-iterations internal error).
    * `at` expands the view stored at that snapshot, with every relation
    * under it pinned there; a view missing at `at` is an error. */
  private def expandView(alias: String, table: String,
      stack: List[String], at: Option[Long] = None): LogicalPlan = {
    val lake = LakeRegistry.get(alias).get
    val (schema, name) = table.split('.') match {
      case Array(s, t) => (s, t)
      case _ => ("main", table)
    }
    val key = s"$schema.$name"
    at.fold(lake.viewSqlAt(schema, name))(
      lake.meta.viewByName(name, _, schema)) match {
      case Some(viewSql) =>
        if (stack.contains(key))
          throw new IllegalArgumentException(
            s"recursive lake view: ${(key :: stack).reverse.mkString(" -> ")}")
        // nested views (bare or alias-qualified) expand HERE with the
        // stack — leaving them for the analyzer rule would restart cycle
        // detection from an empty stack and loop
        val qualified = LakeNames.qualify(
          spark.sessionState.sqlParser.parsePlan(viewSql), alias, lake, at) {
          (s, v) => Some(expandView(alias,
            if (s == "main") v else s"$s.$v", key :: stack, at))
        }
        SubqueryAlias(name, qualified)
      case None => at.fold(placeholder(alias, table))(v =>
        throw new IllegalArgumentException(
          s"$table does not exist at version $v"))
    }
  }
}

/** Unfiltered `COUNT(*)` over a lake table → a [[LocalRelation]] holding
  * the catalog's exact row count ([[graft.catalog.Lake.fastCount]]) — the
  * 100 TB scan never launches. Injected BEFORE [[ExpandLakeScan]] in the
  * operator-optimization batch so it sees the placeholder; any Filter on
  * the relation (or an open transaction) leaves the plan untouched.
  * Projects below the Aggregate are count-preserving and skipped over.
  * Reference analogue: COUNT(*) answered from parquet footer metadata
  * (metadata_cache.test) and estimated_size from catalog stats
  * (table_cardinality.test). */
case class LakeCountFromStats(spark: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.expressions.aggregate.{
    AggregateExpression, Complete, Count}
  import org.apache.spark.sql.catalyst.plans.logical.{
    Aggregate, LocalRelation}

  import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}

  /** What a no-grouping aggregate expression folds to: count-star, or a
    * MIN/MAX over a placeholder output column. */
  private sealed trait Fold
  private case object CountStar extends Fold
  private case class Extremum(column: String, isMax: Boolean) extends Fold

  private def foldOf(e: NamedExpression,
      p: LakeRelationPlaceholder): Option[Fold] = e match {
    case Alias(AggregateExpression(Count(Seq(_: Literal)), Complete, false,
      None, _), _) => Some(CountStar)
    case Alias(AggregateExpression(Min(ar: AttributeReference), Complete,
      false, None, _), _) =>
      p.output.find(_.exprId == ar.exprId).map(a => Extremum(a.name, false))
    case Alias(AggregateExpression(Max(ar: AttributeReference), Complete,
      false, None, _), _) =>
      p.output.find(_.exprId == ar.exprId).map(a => Extremum(a.name, true))
    case _ => None
  }

  /** the placeholder under count-preserving operators only */
  private def placeholderOf(plan: LogicalPlan)
      : Option[LakeRelationPlaceholder] = plan match {
    case p: LakeRelationPlaceholder => Some(p)
    case Project(_, child) => placeholderOf(child)
    case SubqueryAlias(_, child) => placeholderOf(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case a @ Aggregate(Nil, aggExprs, child, _)
          if aggExprs.nonEmpty && placeholderOf(child).isDefined &&
            aggExprs.forall(e =>
              foldOf(e, placeholderOf(child).get).isDefined) =>
        val p = placeholderOf(child).get
        val folds = aggExprs.map(e => foldOf(e, p).get)
        LakeRegistry.get(p.alias).flatMap { lake =>
          // MIN/MAX folds only at the CURRENT snapshot (historical global
          // stats are not versioned); count folds at any snapshot
          lazy val cnt = lake.fastCount(p.table, p.version, p.tsMs)
          lazy val extrema: Map[String, Option[(Any, Any)]] =
            folds.collect { case Extremum(c, _) => c }.distinct
              .map(c => c -> (if (p.version.isEmpty && p.tsMs.isEmpty)
                lake.fastExtrema(p.table, c) else None)).toMap
          val vals = folds.map {
            case CountStar => cnt
            case Extremum(c, isMax) =>
              extrema(c).map(mm => if (isMax) mm._2 else mm._1)
          }
          if (vals.forall(_.isDefined))
            Some(LocalRelation(a.output.map(_.toAttribute),
              Seq(org.apache.spark.sql.catalyst.InternalRow(
                vals.map(_.get): _*))))
          else None
        }.getOrElse(a)
    }
}

/** Top-N file pruning (reference topn_file_pruning.test's dynamic
  * filter): `ORDER BY col [DESC] LIMIT k` over a bare lake relation gets
  * a stats-proven threshold filter injected under the Sort. The filter
  * is semantics-preserving ([[graft.catalog.Lake.topNThreshold]]'s
  * guards) and [[ExpandLakeScan]] turns it into a catalog file-list cut
  * — the top-k of a year of range-clustered data reads one file, not
  * the table. */
case class LakeTopNPruning(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{
    Descending, GreaterThanOrEqual, IntegerLiteral, LessThanOrEqual,
    Literal, NullsFirst, SortOrder}
  import org.apache.spark.sql.catalyst.plans.logical.{
    GlobalLimit, LocalLimit, Sort}

  /** placeholder under pass-through nodes; a Filter stops the search —
    * its row-count effect would break the threshold proof (and marks an
    * already-injected plan) */
  private def placeholderOf(plan: LogicalPlan)
      : Option[LakeRelationPlaceholder] = plan match {
    case p: LakeRelationPlaceholder => Some(p)
    case Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
      placeholderOf(child)
    case SubqueryAlias(_, child) => placeholderOf(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case g @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, srt @ Sort(order, true, child, _)))
          if order.nonEmpty && placeholderOf(child).isDefined =>
        val p = placeholderOf(child).get
        val injected = for {
          _ <- Option.when(p.version.isEmpty && p.tsMs.isEmpty)(())
          so = order.head
          ar <- so.child match {
            case a: AttributeReference => Some(a)
            case _ => None
          }
          col <- p.output.find(_.exprId == ar.exprId).map(_.name)
          lake <- LakeRegistry.get(p.alias)
          desc = so.direction == Descending
          t <- lake.topNThreshold(p.table, col, k.toLong, desc,
            nullsLead = so.nullOrdering == NullsFirst)
        } yield {
          val cond =
            if (desc) GreaterThanOrEqual(ar, Literal(t, ar.dataType))
            else LessThanOrEqual(ar, Literal(t, ar.dataType))
          // inject DIRECTLY above the placeholder so ExpandLakeScan's
          // Filter-adjacent case turns it into a file-list cut in this
          // same optimizer iteration (the placeholder would otherwise be
          // expanded un-pruned before pushdown runs again)
          val pruned = child.transformUp {
            case pp: LakeRelationPlaceholder if pp.fastEquals(p) =>
              Filter(cond, pp)
          }
          g.copy(child = ll.copy(child = srt.copy(child = pruned)))
        }
        injected.getOrElse(g)
    }
}

/** Expands [[LakeRelationPlaceholder]] into the lake's pruned scan.
  * Runs at the END of the operator-optimization batch (after the standard
  * pushdown rules in each iteration): a `Filter` directly above the
  * placeholder carries every predicate Catalyst could push, and its
  * deterministic subquery-free conjuncts become the catalog pruning
  * filter. The full Filter stays on top for exactness — pruning only
  * shrinks the file list. */
case class ExpandLakeScan(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case f @ Filter(cond, p: LakeRelationPlaceholder) =>
        val pushable = splitConjunctivePredicates(cond)
          .filter(c => c.deterministic && !c.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
        f.copy(child = expand(p, pushable.reduceOption(And)))
      case p: LakeRelationPlaceholder => expand(p, None)
    }

  private def expand(p: LakeRelationPlaceholder,
      pruneCond: Option[Expression]): LogicalPlan = {
    val lake = LakeDml.lake(p.alias)
    // re-anchor the condition on column NAMES so it resolves against the
    // freshly-built scan DataFrame (exprIds differ)
    val filterCol = pruneCond.map { c =>
      ColumnBridge.column(c.transform {
        case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
      })
    }
    // virtual columns in use (metadataOutput, current snapshot only)
    val withMeta = p.output.exists(a => MetadataAttribute.isValid(a.metadata))
    val scanned = p.version match {
      case Some(v) => lake.tableAtVersion(p.table, v, filterCol)
      case None => p.tsMs match {
        case Some(ms) => lake.tableAtTime(p.table, ms, filterCol)
        case None if withMeta => lake.scan(p.table,
          lake.meta.currentSnapshot(), filterCol, withMeta = true)
        case None => lake.table(p.table, filterCol)
      }
    }
    val child = scanned.queryExecution.optimizedPlan
    val have =
      if (withMeta) p.output.map(a => child.output.find(_.name == a.name).get)
      else child.output
    // map the scan's output onto the placeholder's stable attribute ids
    val aliases: Seq[NamedExpression] =
      p.output.zip(have).map { case (want, h) =>
        Alias(h, want.name)(exprId = want.exprId)
      }
    Project(aliases, child)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // hint-resolution batch runs BEFORE the main Resolution batch, so
    // graft.<schema>.<table> is rewritten before the builtin relation
    // resolver rejects the three-part name (REQUIRES_SINGLE_PART_NAMESPACE)
    e.injectHintResolutionRule(ResolveLakeRelation)
    e.injectResolutionRule(ResolveLakeRelation)
    // order matters: the count rewrite must see the placeholder before
    // ExpandLakeScan replaces it with the physical file scan
    e.injectOptimizerRule(LakeCountFromStats)
    e.injectOptimizerRule(LakeTopNPruning)
    e.injectOptimizerRule(ExpandLakeScan)

    // lake scalar functions in SQL (the reference registers murmur3_32 and
    // the spatial surface at extension load, ducklake_extension.cpp)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Cast, ExpressionInfo}
    import org.apache.spark.sql.types.DoubleType
    def info(name: String, clazz: Class[_]) =
      new ExpressionInfo(clazz.getName, name)
    e.injectFunction((FunctionIdentifier("murmur3_32"),
      info("murmur3_32", classOf[graft.functions.Murmur3Hash32]),
      (args: Seq[Expression]) => graft.functions.Murmur3Hash32(args.head)))
    e.injectFunction((FunctionIdentifier("st_point"),
      info("st_point", classOf[graft.functions.StPoint]),
      (args: Seq[Expression]) => graft.functions.StPoint(
        Cast(args(0), DoubleType), Cast(args(1), DoubleType))))
    e.injectFunction((FunctionIdentifier("st_hilbert"),
      info("st_hilbert", classOf[graft.functions.StHilbert]),
      (args: Seq[Expression]) => graft.functions.StHilbert(
        args.head +: args.tail.map(Cast(_, DoubleType)))))
    e.injectFunction((FunctionIdentifier("st_bbox_intersects"),
      info("st_bbox_intersects", classOf[graft.functions.StBboxIntersects]),
      (args: Seq[Expression]) => graft.functions.StBboxIntersects(
        args.head +: args.tail.map(Cast(_, DoubleType)))))
    // bounded_topk(k, sort_struct, payload_struct) → array<payload> of the
    // k smallest sort keys — the SQL spelling of the size-capped
    // top-n-per-group aggregate (negate a numeric field for DESC)
    e.injectFunction((FunctionIdentifier("bounded_topk"),
      info("bounded_topk", classOf[graft.functions.BoundedTopKAgg]),
      (args: Seq[Expression]) => {
        val k = args.head match {
          case org.apache.spark.sql.catalyst.expressions
            .Literal(v: Number, _) => v.intValue()
          case other => throw new IllegalArgumentException(
            s"bounded_topk k must be an integer literal, got $other")
        }
        graft.functions.BoundedTopKAgg(args(1), args(2), k)
          .toAggregateExpression()
      }))
  }
}
