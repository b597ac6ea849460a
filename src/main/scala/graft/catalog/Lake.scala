package graft.catalog

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And, BinaryComparison, Cast, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The user-facing lakehouse: Spark reads/writes Parquet, all state lives
  * in the JDBC catalog ([[MetadataManager]]). Copy-on-write DML with
  * positional delete files, snapshot isolation, time travel, CDC and
  * maintenance — the reference's surface (SURVEY.md §2.1-2.7) re-expressed
  * as DataFrame transformations.
  *
  * Scale notes: metadata work happens on the driver (as in the reference,
  * where it is SQL against the catalog DB); all row work is distributed
  * DataFrame jobs. All file I/O goes through [[LakeIO]] (Hadoop
  * FileSystem API), so data_path may live on local FS, HDFS or an object
  * store; moves assume a rename-capable filesystem (local / HDFS) — on
  * object stores the staging step would write final names directly.
  */
/** One WHEN MATCHED clause of a MERGE (reference
  * ducklake_merge_into.cpp action list). Clauses are ORDERED: per
  * matched row the first clause whose condition passes acts. */
sealed trait MatchedAction { def condition: Option[Column] }
/** WHEN MATCHED [AND cond] THEN UPDATE SET ... */
final case class MatchedUpdate(assignments: Map[String, Column],
    condition: Option[Column] = None) extends MatchedAction
/** WHEN MATCHED [AND cond] THEN DELETE */
final case class MatchedDelete(condition: Option[Column] = None)
    extends MatchedAction

/** Bucket-keyed file groups for the DSv2 storage-partitioned read path:
  * (bucket id → that bucket's (absolute file URI, size) list) under the
  * current snapshot. */
final case class SpjScanInfo(
    schema: org.apache.spark.sql.types.StructType,
    bucketColumn: String,
    width: Int,
    groups: Seq[(Int, Seq[(String, Long)])],
    /** provable per-partition ordering (column, asc|desc,
      * nulls_first|nulls_last): non-empty only when every scanned file
      * was written under the live plain-column sort spec AND every
      * bucket group is a single file (concatenation would break order) */
    ordering: Seq[(String, String, String)] = Nil)

class Lake(val spark: SparkSession, val meta: MetadataManager,
    val dataPath: String) {

  import Lake._

  /** storage layer — serializable, shared with executor-side writers */
  val io = new LakeIO(dataPath)

  /** Parquet modular-encryption options when the lake is encrypted
    * (reference "encrypted" lake option, ducklake_storage.cpp:32): footer +
    * data of every data/delete file encrypted with a per-file DEK wrapped
    * by the master key held in ducklake_metadata (see
    * [[graft.sources.CatalogKmsClient]]). Empty for plaintext lakes. */
  private def cryptoOpts: Map[String, String] =
    if (!meta.getOption("encrypted").contains("true")) Map.empty
    else {
      val b64 = meta.getOption("encryption_master_key").getOrElse {
        val k = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(k)
        val s = java.util.Base64.getEncoder.encodeToString(k)
        meta.setOption("encryption_master_key", s)
        s
      }
      Map(
        "parquet.crypto.factory.class" ->
          "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
        "parquet.encryption.kms.client.class" ->
          "graft.sources.CatalogKmsClient",
        "parquet.encryption.uniform.key" -> "graft-master",
        graft.sources.CatalogKmsClient.MasterKeyConf -> b64)
    }

  /** parquet reader honoring the lake's encryption settings */
  private def pqRead: org.apache.spark.sql.DataFrameReader =
    spark.read.options(cryptoOpts)

  // ------------------------------------------------------------ DDL surface

  /** Column names the inlined-row catalog tables use internally
    * (reference DuckLakeUtil::IsInlinedSystemColumn,
    * ducklake_util.cpp:337-342) — reserved while data inlining is on. */
  private val InlinedSystemColumns = Set("row_id", "begin_snapshot",
    "end_snapshot", "_ducklake_internal_snapshot_id",
    "_ducklake_internal_row_id")

  /** Reference ValidateNoInlinedSystemColumns (ducklake_util.cpp:343-360):
    * with inlining enabled, user columns must not collide with the
    * inlined-table system columns. `tableName` empty → the CREATE-side
    * message; non-empty → the enable-inlining-side message. */
  private def validateNoInlinedSystemColumns(names: Seq[String],
      tableName: String = ""): Unit =
    names.find(n => InlinedSystemColumns.contains(
      n.toLowerCase(java.util.Locale.ROOT))).foreach { n =>
      if (tableName.isEmpty) throw new IllegalArgumentException(
        s"""Column name "$n" is reserved by DuckLake for internal use """ +
          "when data inlining is enabled. If you must use this column " +
          "name, disable inlining by calling " +
          "ducklake_set_option('data_inlining_row_limit', 0).")
      else throw new IllegalArgumentException(
        s"""Cannot enable data inlining for table "$tableName". """ +
          s"""Column "$n" conflicts with a reserved DuckLake internal """ +
          "column name used for inlining. To enable inlining for this " +
          s"""table, rename or drop column "$n".""")
    }

  private def inliningEnabled(table: Option[String]): Boolean =
    table.flatMap(t => scala.util.Try(
      optionFor(t, "data_inlining_row_limit")).toOption.flatten)
      .orElse(meta.getOption("data_inlining_row_limit"))
      .exists(v => scala.util.Try(v.toInt).toOption.exists(_ > 0))

  def createTable(name: String, schema: StructType,
      ifNotExists: Boolean = false): TableInfo = {
    if (inliningEnabled(None))
      validateNoInlinedSystemColumns(schema.fields.toSeq.map(_.name))
    val cols = schema.fields.map(f =>
      (f.name, Lake.declaredType(f), f.nullable)).toSeq
    io.mkdirs(name)
    val (s, t) = splitName(name)
    txn match {
      case Some(st) =>
        // transaction-local create (reference basic_transaction.test):
        // buffered until commit; same-name concurrent creates conflict
        // THERE, different names never do.
        // The name-taken probe goes through the txn's FULL overlay
        // (resolve): a table this txn dropped OR renamed away no longer
        // blocks the name, while a buffered rename's target name does
        if (scala.util.Try(resolve(name)).isSuccess) {
          if (ifNotExists) return resolve(name)
          throw new IllegalArgumentException(s"table $name already exists")
        }
        val pid = st.newProvisionalId()
        st.created(pid) = (s, t, provisionalColumns(st, cols))
        TableInfo(pid, "", -1L, t, name)
      case None =>
        meta.createTable(t, cols, schema = s, ifNotExists = ifNotExists)
    }
  }

  /** ColumnInfos for a txn-created table: provisional negative ids
    * allocated in the exact DFS pre-order
    * [[MetadataManager.commitTransaction]] will allocate real ids in, so
    * per-file stats remap positionally at commit. */
  private def provisionalColumns(st: TxnState,
      fields: Seq[(String, String, Boolean)]): Seq[ColumnInfo] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ColumnInfo]
    def walk(order: Long, n: String, ts: String, nullable: Boolean,
        parent: Option[Long]): Unit = {
      val cid = st.newProvisionalId()
      out += ColumnInfo(cid, order, n, ts, nullable, parent)
      DuckLakeTypes.childSpecs(ts).zipWithIndex.foreach { case ((fn, ft), i) =>
        walk(i.toLong, fn, ft, nullable = true, Some(cid))
      }
    }
    fields.zipWithIndex.foreach { case ((n, ts, nl), i) =>
      walk(i.toLong, n, ts, nl, None)
    }
    out.toSeq
  }

  def dropTable(name: String): Unit = {
    val (s, t) = splitName(name)
    txn match {
      case Some(st) =>
        st.createdByName(s, t) match {
          case Some(pid) =>
            // dropping a txn-created table cancels the create: staged
            // appends, their files, and any buffered partition spec go
            st.created.remove(pid)
            st.partitionSpecs.remove(pid)
            st.sortSpecs.remove(pid)
            val (mine, rest) = st.appends.partition(_._1 == pid)
            st.appends.clear(); st.appends ++= rest
            mine.flatMap(_._4.map(_.path)).foreach(p => io.delete(p))
          case None =>
            // the requested name may be a buffered-rename binding:
            // translate back to the committed catalog name first
            val t0 = txnCommittedName(st, s, t)
              .getOrElse(throw new IllegalArgumentException(s"no table $name"))
            val info = meta.tableByName(t0, st.base.snapshotId, s)
              .getOrElse(throw new IllegalArgumentException(s"no table $name"))
            st.partitionSpecs.remove(info.tableId) // drop wins
            st.sortSpecs.remove(info.tableId)
            st.dropped(info.tableId) = (s, t)
        }
      case None => meta.dropTable(t, s)
    }
  }

  /** ALTER TABLE … RENAME TO. Inside a transaction the rename buffers
    * (reference rename_table_within_transaction.test /
    * rename_table_dbt_workload.test): the txn's own statements resolve
    * the new name (and no longer the old), renames of txn-created tables
    * just rebind the buffered create, and the catalog learns of
    * everything in one commit snapshot. */
  def renameTable(oldName: String, newName: String): Unit = {
    val (s, t) = splitName(oldName)
    val (s2, t2) = splitName(newName)
    require(s == s2, "rename cannot move a table across schemas")
    txn match {
      case Some(st) =>
        // the target name must be free under THIS txn's own overlay —
        // both as a table (committed, created, or rename-bound) and as a
        // view (committed + buffered view DDL)
        if (scala.util.Try(resolve(newName)).isSuccess)
          throw new IllegalArgumentException(
            s"cannot rename table $oldName: table $newName already exists")
        if (viewSqlAt(s, t2).isDefined)
          throw new IllegalArgumentException(
            s"cannot rename table $oldName: a view named $t2 exists")
        st.createdByName(s, t) match {
          case Some(pid) =>
            val (sc, _, cols) = st.created(pid)
            st.created(pid) = (sc, t2, cols)
          case None =>
            val info = resolve(oldName) // overlay-aware; throws if gone
            st.renames += ((info.tableId, s, t, t2))
        }
      case None => meta.renameTable(t, t2, s)
    }
  }

  /** Translate a name through the open txn's buffered renames (reverse
    * statement order) to the name the COMMITTED catalog knows. None when
    * the requested name was renamed away and never re-bound. */
  private def txnCommittedName(st: TxnState, schema: String,
      name: String): Option[String] = {
    var t = name
    st.renames.reverseIterator.foreach { case (_, rs, o, n) =>
      if (rs == schema) {
        if (n == t) t = o
        else if (o == t) return None // renamed away, not re-bound
      }
    }
    Some(t)
  }

  def addColumn(table: String, field: StructField,
      defaultValue: Option[String] = None): Unit = {
    if (inliningEnabled(Some(table)))
      validateNoInlinedSystemColumns(Seq(field.name))
    val ts = DuckLakeTypes.toTypeString(field.dataType)
    if (!bufferAlter(table, _ => {
      val st = txn.get
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      def walk(t: String): Unit = {
        ids += st.newProvisionalId()
        DuckLakeTypes.childSpecs(t).foreach { case (_, ft) => walk(ft) }
      }
      walk(ts)
      AlterSpec.AddCol(field.name, ts, field.nullable, defaultValue,
        ids.toSeq)
    }))
      meta.addColumn(resolve(table).tableId, field.name, ts, field.nullable,
        defaultValue)
  }
  def dropColumn(table: String, column: String): Unit = {
    // reference guards (drop_sorted_column.test, drop_partition_column
    // .test): a column in the live sort spec or partition spec cannot be
    // dropped — RESET SORTED BY / RESET PARTITIONED BY first.
    val t = resolve(table)
    val sid = meta.currentSnapshot().snapshotId
    if (effectiveSortSpec(t.tableId, sid)
        .exists(s => SqlIdent.refs(s._1).contains(column.toLowerCase)))
      throw new IllegalArgumentException(
        s"cannot drop column $column of $table: the table is sorted by " +
          "this column (RESET SORTED BY first)")
    val colId = meta.columnsOf(t.tableId, sid)
      .find(c => c.parentColumn.isEmpty && c.name.equalsIgnoreCase(column))
      .map(_.columnId)
    if (colId.exists(id => meta.currentPartitionSpec(t.tableId, sid)
        .exists(_.fields.exists(_.columnId == id))))
      throw new IllegalArgumentException(
        s"cannot drop column $column of $table: the table is partitioned " +
          "by this column (RESET PARTITIONED BY first)")
    if (!bufferAlter(table, _ => AlterSpec.DropCol(column)))
      meta.dropColumn(t.tableId, column)
  }
  def renameColumn(table: String, oldName: String, newName: String): Unit = {
    if (inliningEnabled(Some(table)))
      validateNoInlinedSystemColumns(Seq(newName))
    if (bufferAlter(table, _ => AlterSpec.RenameCol(oldName, newName)))
      return
    // inlined rows live as JSON keyed by column name — flush them to
    // parquet first so the epoch mapping (by column_id) covers them
    flushInlinedData(table)
    meta.renameColumn(resolve(table).tableId, oldName, newName)
  }

  /** ALTER TABLE ... RENAME COLUMN col.field TO new (nested, reference
    * ducklake_table_entry.cpp RenameField): metadata-only; old files keep
    * reading via the stable field column_id. */
  def renameField(table: String, path: String, newName: String): Unit = {
    flushInlinedData(table)
    meta.renameField(resolve(table).tableId,
      path.split("\\.").toSeq, newName)
  }

  /** ALTER TABLE ... DROP COLUMN col.field (nested drop). */
  def dropField(table: String, path: String): Unit =
    meta.dropField(resolve(table).tableId, path.split("\\.").toSeq)
  def changeColumnType(table: String, column: String, to: DataType): Unit = {
    val nt = DuckLakeTypes.toTypeString(to)
    if (!bufferAlter(table, tid => {
      require(DuckLakeTypes.childSpecs(nt).isEmpty,
        "only scalar type changes are supported inside a transaction")
      val cur = columnsAt(tid, meta.currentSnapshot().snapshotId)
        .find(x => x.parentColumn.isEmpty && x.name.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(s"no column $column"))
      if (!DuckLakeTypes.isWidening(cur.typeString, nt))
        throw new IllegalArgumentException(
          "only widening type promotions are allowed: " +
            s"${cur.typeString} -> $nt")
      AlterSpec.ChangeType(column, nt)
    }))
      meta.changeColumnType(resolve(table).tableId, column, nt)
  }
  /** SET NOT NULL verifies existing data first, like the reference —
    * using the cumulative table column stats when they already prove no
    * NULLs exist (contains_null=false is definitive: deletes cannot add
    * nulls), falling back to a data scan otherwise. */
  def setNotNull(table: String, column: String): Unit = {
    val snapId = meta.currentSnapshot().snapshotId
    val t = resolve(table)
    val ci = meta.columnsOf(t.tableId, snapId)
      .find(c => c.parentColumn.isEmpty && c.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(s"no column $column"))
    // contains_null=false is only PROOF when (a) null counts are reliably
    // tracked for the type and (b) no inlined rows exist (appendInlined
    // does not merge into the cumulative column stats)
    val statsTrustworthy = StatsCodec.statsSupported(
      DuckLakeTypes.fromTypeString(ci.typeString)) &&
      meta.liveInlinedRows(t.tableId, snapId).isEmpty
    val provenClean = statsTrustworthy && meta.tableColumnStats(t.tableId)
      .find(_._1 == ci.columnId).exists(s => !s._2)
    if (!provenClean) {
      val nulls =
        this.table(table).filter(col(column).isNull).limit(1).count()
      require(nulls == 0, s"column $column contains NULL values")
    }
    // inside a transaction the change buffers like every other column
    // alteration (reference multi_alter_same_column_transaction.test)
    if (!bufferAlter(table, _ =>
        AlterSpec.SetNotNull(column, allowed = false)))
      meta.setNullsAllowed(t.tableId, column, allowed = false)
  }
  def dropNotNull(table: String, column: String): Unit =
    if (!bufferAlter(table, _ =>
        AlterSpec.SetNotNull(column, allowed = true)))
      meta.setNullsAllowed(resolve(table).tableId, column, allowed = true)
  def setColumnDefault(table: String, column: String, default: String): Unit =
    if (!bufferAlter(table, _ => AlterSpec.SetDefault(column,
      Option(default))))
      meta.setColumnDefault(resolve(table).tableId, column, Option(default))

  /** ALTER TABLE ... ADD FIELD col[.path].field (nested evolution,
    * reference ducklake_table_entry.cpp:1148): appends a nullable field to
    * a struct column — the path may descend through nested structs and
    * list/map child slots (`element`/`key`/`value`); old files read the
    * field back as NULL (schema-on-read). */
  def addField(table: String, column: String, field: StructField): Unit = {
    val t = resolve(table)
    val snap = meta.currentSnapshot()
    val segs = column.split("\\.").toSeq
    val ci = meta.columnsOf(t.tableId, snap.snapshotId)
      .find(c => c.parentColumn.isEmpty && c.name == segs.head)
      .getOrElse(throw new IllegalArgumentException(s"no column ${segs.head}"))

    // rewrite the addressed subtree of the type string, bottom-up
    def rewrite(ts: String, path: Seq[String]): String = path match {
      case Nil =>
        require(DuckLakeTypes.isStruct(ts),
          s"$column is not a struct (is $ts)")
        val fields = DuckLakeTypes.structFieldStrings(ts)
        require(!fields.exists(_._1 == field.name),
          s"field ${field.name} already exists")
        DuckLakeTypes.mkStructString(fields :+
          (field.name -> DuckLakeTypes.toTypeString(field.dataType)))
      case seg +: rest =>
        val kids = DuckLakeTypes.childSpecs(ts)
        require(kids.exists(_._1 == seg),
          s"no field $seg in $ts")
        DuckLakeTypes.rebuildNested(ts, kids.map { case (n, kt) =>
          if (n == seg) (n, rewrite(kt, rest)) else (n, kt)
        })
    }
    meta.changeColumnType(t.tableId, segs.head,
      rewrite(ci.typeString, segs.tail))
  }

  def createView(name: String, sql: String,
      orReplace: Boolean = false): Unit = {
    val (s, v) = splitName(name)
    txn match {
      case Some(st) =>
        if (!orReplace && viewSqlAt(s, v).isDefined)
          throw new IllegalArgumentException(
            s"view $name already exists (use CREATE OR REPLACE VIEW)")
        st.viewOps += CreateViewOp(v, s, sql, orReplace)
      case None => meta.createView(v, sql, s, orReplace = orReplace)
    }
  }

  /** DROP VIEW (reference view lifecycle: the row closes at this
    * snapshot; time travel before it still sees the view). */
  def dropView(name: String, ifExists: Boolean = false): Unit = {
    val (s, v) = splitName(name)
    txn match {
      case Some(st) =>
        if (!ifExists && viewSqlAt(s, v).isEmpty)
          throw new IllegalArgumentException(s"no view $name")
        st.viewOps += DropViewOp(v, s, ifExists)
      case None => meta.dropView(v, s, ifExists)
    }
  }

  /** ALTER VIEW … RENAME TO (same-schema, like table renames). */
  def renameView(oldName: String, newName: String): Unit = {
    val (s, v) = splitName(oldName)
    val (s2, v2) = splitName(newName)
    require(s == s2, "rename cannot move a view across schemas")
    txn match {
      case Some(st) =>
        if (viewSqlAt(s, v).isEmpty)
          throw new IllegalArgumentException(s"no view $oldName")
        if (viewSqlAt(s, v2).isDefined)
          throw new IllegalArgumentException(
            s"cannot rename view $oldName: view $newName already exists")
        st.viewOps += RenameViewOp(v, v2, s)
      case None => meta.renameView(v, v2, s)
    }
  }

  /** The view set visible to THIS handle for one schema: committed state
    * overlaid with the open transaction's buffered view DDL replayed in
    * statement order (so create→rename chains resolve through the
    * buffered state, not the txn base). name → sql, names lower-cased. */
  private[graft] def visibleViews(schema: String)
      : Map[String, (String, String)] = {
    var m = meta.listViews(
      txn.map(_.base.snapshotId)
        .getOrElse(meta.currentSnapshot().snapshotId), schema)
      .map { case (n, s) => n.toLowerCase -> (n, s) }.toMap
    txn.foreach(_.viewOps.foreach {
      case CreateViewOp(n, s, sql, _) if s == schema =>
        m += n.toLowerCase -> (n, sql)
      case DropViewOp(n, s, _) if s == schema => m -= n.toLowerCase
      case RenameViewOp(o, n2, s) if s == schema =>
        m.get(o.toLowerCase).foreach { case (_, sql) =>
          m = m - o.toLowerCase + (n2.toLowerCase -> (n2, sql))
        }
      case _ => ()
    })
    m
  }

  /** Table names visible to THIS handle for one schema: committed state
    * overlaid with the open transaction's buffered creates, drops, and
    * renames (reference rename_entity.test: renamed entities show only
    * under their new names inside the transaction). */
  private[graft] def visibleTableNames(schema: String): Seq[String] =
    txn match {
      case None =>
        meta.listTables(meta.currentSnapshot().snapshotId, schema).map(_.name)
      case Some(st) =>
        var names = meta.listTables(st.base.snapshotId, schema)
          .filterNot(t => st.dropped.contains(t.tableId))
          .map(t => t.tableId -> t.name)
        st.renames.foreach { case (tid, rs, _, n) =>
          if (rs == schema) names = names.map { case (id, nm) =>
            if (id == tid) (id, n) else (id, nm)
          }
        }
        names.map(_._2) ++ st.created.values.collect {
          case (s, n, _) if s == schema => n
        }
    }

  /** View SQL visible to THIS handle (committed + txn overlay). */
  private[graft] def viewSqlAt(schema: String, name: String)
      : Option[String] =
    if (txn.isEmpty)
      meta.viewByName(name, meta.currentSnapshot().snapshotId, schema)
    else visibleViews(schema).get(name.toLowerCase).map(_._2)

  // ------------------------------------------------- comments (tags)

  /** COMMENT ON TABLE / VIEW (reference comments family): the 'comment'
    * tag on the catalog object; null clears. Views resolve when no table
    * of that name exists, like the reference's object lookup. */
  def commentOn(name: String, comment: String): Unit = {
    val snap = meta.currentSnapshot()
    val (s, t) = splitName(name)
    val id = meta.tableByName(t, snap.snapshotId, s).map(_.tableId)
      .orElse(meta.viewIdByName(t, snap.snapshotId, s))
      .getOrElse(throw new IllegalArgumentException(s"no table or view $name"))
    meta.setTag(id, "comment", comment)
  }

  def comment(name: String): Option[String] = {
    val snap = meta.currentSnapshot()
    val (s, t) = splitName(name)
    val id = meta.tableByName(t, snap.snapshotId, s).map(_.tableId)
      .orElse(meta.viewIdByName(t, snap.snapshotId, s))
      .getOrElse(throw new IllegalArgumentException(s"no table or view $name"))
    meta.getTag(id, "comment")
  }

  /** COMMENT ON COLUMN t.c — nested fields by dotted path (the column_id
    * model gives every nested leaf its own id, so comments survive
    * renames the same way reads do). When the owner is a VIEW, the
    * comment keys by output-column name in ducklake_view_column_tag
    * (format v1.1, reference comments family). */
  def commentOnColumn(table: String, column: String,
      comment: String): Unit =
    viewColumnOwner(table, column) match {
      case Some((vid, cn)) => meta.setViewColumnTag(vid, cn, "comment",
        comment)
      case None =>
        val (t, ci) = resolveColumn(table, column)
        meta.setColumnTag(t.tableId, ci.columnId, "comment", comment)
    }

  def columnComment(table: String, column: String): Option[String] =
    viewColumnOwner(table, column) match {
      case Some((vid, cn)) => meta.getViewColumnTag(vid, cn, "comment")
      case None =>
        val (t, ci) = resolveColumn(table, column)
        meta.getColumnTag(t.tableId, ci.columnId, "comment")
    }

  /** When `name` is a VIEW (and not a table), its view_id + the column
    * name, validated against the view's resolved output schema. */
  private def viewColumnOwner(name: String,
      column: String): Option[(Long, String)] = {
    val snap = meta.currentSnapshot()
    val (s, t) = splitName(name)
    if (meta.tableByName(t, snap.snapshotId, s).isDefined) return None
    meta.viewIdByName(t, snap.snapshotId, s).map { vid =>
      val out = view(name).schema.fieldNames
      val cn = out.find(_.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(
          s"view $name has no column $column"))
      (vid, cn)
    }
  }

  private def resolveColumn(table: String,
      column: String): (TableInfo, ColumnInfo) = {
    val snap = meta.currentSnapshot()
    val t = resolve(table, Some(snap.snapshotId))
    val cols = meta.columnsOf(t.tableId, snap.snapshotId)
    // dotted path → walk parent links; flat name → top-level match
    val segs = column.split("\\.")
    var parent: Option[Long] = None
    var cur: Option[ColumnInfo] = None
    segs.foreach { seg =>
      cur = cols.find(c => c.name == seg && c.parentColumn == parent)
      parent = cur.map(_.columnId)
      if (cur.isEmpty) throw new IllegalArgumentException(
        s"no column $column in $table")
    }
    (t, cur.get)
  }

  /** ALTER TABLE ... SET PARTITIONED BY (reference
    * ducklake_table_entry.cpp:626): (column, transform) pairs, transform in
    * identity|year|month|day|hour|bucket(n) (Iceberg-compatible bucket via
    * murmur3, reference ducklake_partition_data.cpp:54-140). */
  /** Current partition spec as (column name, transform) pairs — the
    * getter mirror of [[setPartitionedBy]]; empty when unpartitioned. */
  def partitionedBy(table: String): Seq[(String, String)] = {
    val snap = meta.currentSnapshot()
    val t = resolve(table, Some(snap.snapshotId))
    val cols = columnsAt(t.tableId, snap.snapshotId)
    meta.currentPartitionSpec(t.tableId, snap.snapshotId).toSeq
      .flatMap(_.fields).flatMap(f =>
        cols.find(_.columnId == f.columnId).map(c => (c.name, f.transform)))
  }

  def setPartitionedBy(table: String, specs: Seq[(String, String)]): Unit = {
    val snap = meta.currentSnapshot()
    val t = resolve(table, Some(snap.snapshotId))
    val cols = columnsAt(t.tableId, snap.snapshotId)
    val fields = specs.map { case (cname, transform) =>
      val ci = cols.find(_.name == cname).getOrElse(
        throw new IllegalArgumentException(s"no column $cname"))
      // validate the transform up front (reference rejects bucket('abc'),
      // bucket(0), bucket(-1) at ALTER time)
      transform match {
        case "identity" | "year" | "month" | "day" | "hour" => ()
        case b if b.startsWith("bucket(") && b.endsWith(")") =>
          val w = b.stripPrefix("bucket(").stripSuffix(")").trim
          val n = scala.util.Try(w.toInt).getOrElse(
            throw new IllegalArgumentException(
              s"bucket width must be an integer, got '$w'"))
          require(n > 0, s"bucket width must be positive, got $n")
        case other => throw new IllegalArgumentException(
          s"unknown partition transform $other")
      }
      (ci.columnId, transform)
    }
    txn match {
      case Some(st) =>
        // buffered (reference partition_rename_in_transaction.test);
        // guarded like alters: files already staged for this table were
        // written UNPARTITIONED and would carry no partition values
        require(st.pendingFiles(t.tableId).isEmpty,
          s"cannot SET PARTITIONED BY on $table: the transaction " +
            "already staged writes for it")
        st.partitionSpecs(t.tableId) = (st.newProvisionalId(), fields)
      case None => meta.setPartitionSpec(t.tableId, fields): Unit
    }
  }

  /** partition transform as a STRING column (string form doubles as the
    * hive directory name and the catalog partition_value). */
  private def transformCol(transform: String, c: Column): Column =
    transform match {
      case "identity" => c.cast("string")
      // plain year()/month()/day()/hour() numbers — the values DuckDB's
      // BuildPartitionFilter compares with `month(col) = v` (reference
      // ducklake_partition_data.cpp GetPartitionSQLExpression), so a
      // foreign DuckDB reading this catalog prunes correctly
      case "year" => year(c).cast("string")
      case "month" => month(c).cast("string")
      case "day" => dayofmonth(c).cast("string")
      case "hour" => hour(c).cast("string")
      case b if b.startsWith("bucket(") =>
        val n = b.stripPrefix("bucket(").stripSuffix(")").trim.toInt
        graft.functions.Murmur3Functions.bucket(n, c).cast("string")
      case other =>
        throw new IllegalArgumentException(s"unknown transform $other")
    }

  /** Evaluate a transform on a Catalyst literal driver-side (for partition
    * pruning of eq filters — no Spark job needed). */
  private def transformLiteral(transform: String, value: Any,
      dt: DataType): Option[String] = {
    // Catalyst internal forms: timestamps = epoch micros (Long),
    // dates = epoch days (Int)
    def utc: Option[java.time.LocalDateTime] = (value, dt) match {
      case (us: Long, TimestampType | TimestampNTZType) =>
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC))
      case (days: Int, DateType) =>
        Some(java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay())
      case _ => None
    }
    transform match {
      case "identity" => Some((value, dt) match {
        case (s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        // date/timestamp literals arrive in Catalyst-internal form
        // (epoch days / micros); render the SAME string the writer's
        // `cast(col, "string")` produced, or equality pruning compares
        // "20572" against "2026-04-30" and wrongly prunes every file
        case (days: Int, DateType) =>
          java.time.LocalDate.ofEpochDay(days.toLong).toString
        case (us: Long, TimestampType | TimestampNTZType) =>
          val d = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC)
          // outside 1..9999 Spark's rendering grows a sign/extra digits
          // (+10000-…) — bail to the row filter rather than risk an
          // over-prune on a mismatched spelling
          if (d.getYear < 1 || d.getYear > 9999) return None
          val base = f"${d.getYear}%04d-${d.getMonthValue}%02d-" +
            f"${d.getDayOfMonth}%02d ${d.getHour}%02d:" +
            f"${d.getMinute}%02d:${d.getSecond}%02d"
          val frac = Math.floorMod(us, 1000000L)
          if (frac == 0L) base
          else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
        case (other, _) => other.toString
      })
      case b if b.startsWith("bucket(") =>
        val n = b.stripPrefix("bucket(").stripSuffix(")").trim.toInt
        scala.util.Try(graft.functions.Murmur3.hashAny(value, dt)).toOption
          .map(h => ((h & Int.MaxValue) % n).toString)
      case "year" => utc.map(_.getYear.toString)
      case "month" => utc.map(_.getMonthValue.toString)
      case "day" => utc.map(_.getDayOfMonth.toString)
      case "hour" => utc.map(_.getHour.toString)
      case _ => None
    }
  }

  /** Run a view's SQL at the current snapshot (views store dialect + SQL
    * text, reference ducklake_view_entry.cpp:125-142) through the
    * statement path of [[sql]]. */
  def view(name: String): DataFrame = {
    val (vs, vn) = splitName(name)
    statement(viewSqlAt(vs, vn)
      .getOrElse(throw new IllegalArgumentException(s"no view $name")))
  }

  /** SQL entry point — the "attach and query" experience of the reference.
    * DuckDB-only statements (DDL, CALL, SECRET, MACRO, BEGIN/COMMIT …)
    * route to the Lake API via [[LakeSql]]; every other statement has the
    * DuckDB spellings Spark's parser lacks rewritten (`AT (VERSION =>)`
    * time travel, stored macros, MERGE's bare `THEN INSERT`) and runs as
    * `spark.sql` runs it ([[statement]]). */
  def sql(sqlText: String): DataFrame = {
    val stmt = sqlText.trim.stripSuffix(";").trim
    def run(q: String): DataFrame = statement(LakeSql.sparkDml(expandMacros(
      rewriteAtClauses(q), meta.currentSnapshot().snapshotId)))
    LakeSql.dispatch(this, spark, stmt, run).getOrElse(run(stmt))
  }

  /** One Spark SQL statement through the path `spark.sql` takes: Spark's
    * parser, bare lake names qualified with this handle's registry alias
    * ([[graft.plans.LakeNames.qualify]]: names created inside an open
    * transaction included, metadata table functions bound), and the
    * [[graft.plans.GraftExtensions]] resolver, scan rules and DML
    * commands. A query comes back over its optimized plan, so its lake
    * scans are bound here, as [[table]] binds them: it keeps reading this
    * call's snapshot and still runs after [[detach]]. */
  private def statement(stmt: String): DataFrame = {
    require(spark.sessionState.analyzer.extendedResolutionRules.exists(
      _.isInstanceOf[graft.plans.ResolveLakeRelation]),
      "lake.sql needs the graft.plans.GraftExtensions session extension")
    val plan = graft.plans.LakeNames.qualify(
      spark.sessionState.sqlParser.parsePlan(stmt), sqlAlias(), this)()
    val df = DatasetBridge.ofRows(spark, plan)
    DatasetBridge.ofRows(spark, df.queryExecution.optimizedPlan)
  }

  /** Per-instance [[graft.plans.LakeRegistry]] alias, registered on first
    * `sql` statement when the handle has none; [[detach]] removes it. */
  @volatile private var ownAlias: Option[String] = None

  private def sqlAlias(): String = synchronized {
    graft.plans.LakeRegistry.aliasOf(this).getOrElse {
      val alias = s"lake_sql_${Lake.aliasSeq.incrementAndGet()}"
      graft.plans.LakeRegistry.register(alias, this)
      ownAlias = Some(alias)
      alias
    }
  }

  /** The reference's metadata table functions in FROM position
    * (ducklake_snapshots/table_info/list_files/table_changes …,
    * base_metadata_function.cpp + default_functions.cpp) as DataFrames;
    * None for any other name. Arguments are literals or bare names. */
  private[graft] def tableFunction(name: String,
      args: Seq[Expression]): Option[DataFrame] = {
    def arg(i: Int): String = args(i) match {
      case u: UnresolvedAttribute => u.name
      case e => String.valueOf(e.eval())
    }
    PartialFunction.condOpt(name.toLowerCase(java.util.Locale.ROOT)) {
      case "snapshots" => snapshots()
      case "table_info" => tableInfo()
      case "database_size" => databaseSize()
      case "settings" => settings()
      case "options" =>
        import spark.implicits._
        options().toDF("option_key", "option_value")
      case "list_files" =>
        listFiles(arg(0), Option.when(args.length > 1)(arg(1).toLong))
      case "table_changes" =>
        tableChanges(arg(0), arg(1).toLong, arg(2).toLong)
      case "table_insertions" =>
        tableInsertions(arg(0), arg(1).toLong, arg(2).toLong)
      case "table_deletions" =>
        tableDeletions(arg(0), arg(1).toLong, arg(2).toLong)
      case "metadata_log" => metadataLog()
    }
  }

  private val AtClause =
    """(?is)\b([\w$.]+)\s+AT\s*\(\s*(VERSION|TIMESTAMP)\s*=>\s*('[^']*'|[^\s)]+)\s*\)""".r

  /** `FROM t AT (VERSION => v | TIMESTAMP => 'ts')` — the reference's
    * time-travel clause (ducklake_transaction.cpp:1613-1645) — in Spark's
    * spelling, `VERSION AS OF v` / `TIMESTAMP AS OF`. A quoted timestamp
    * reads as `java.sql.Timestamp.valueOf` reads it, a bare number as
    * epoch milliseconds; either becomes an exact UTC instant. */
  private def rewriteAtClauses(q: String): String =
    AtClause.replaceAllIn(q, m => {
      val raw = m.group(3)
      val travel = m.group(2).toUpperCase(java.util.Locale.ROOT) match {
        case "VERSION" => s"VERSION AS OF ${raw.toLong}"
        case _ =>
          val ms =
            if (raw.startsWith("'"))
              java.sql.Timestamp
                .valueOf(raw.stripPrefix("'").stripSuffix("'")).getTime
            else raw.toLong
          s"TIMESTAMP AS OF TIMESTAMP '${java.time.Instant.ofEpochMilli(ms)}'"
      }
      java.util.regex.Matcher.quoteReplacement(s"${m.group(1)} $travel")
    })

  /** CREATE MACRO name(params) AS body (reference ducklake_macro tables);
    * expansion is textual parameter substitution at call sites. */
  def createMacro(name: String, params: Seq[String], body: String): Unit =
    meta.createMacro(name, Seq(MacroImpl(params.map((_, None)), body,
      isTable = false)))

  /** Full CREATE [OR REPLACE] MACRO surface: arity overloads
    * (test_multiple_implementations.test), `:=` parameter defaults
    * (test_default_parameter.test), table macros (test_macro_tables.test).
    * Inside an open transaction the statement buffers (visible to the
    * txn's own queries, committed as one snapshot —
    * test_macro_transactions.test); duplicate/missing checks still fire at
    * statement time like the reference. */
  def createMacro(name: String, impls: Seq[MacroImpl],
      orReplace: Boolean): Unit = txn match {
    case Some(st) =>
      val kind = impls.head.isTable
      if (!orReplace && effectiveMacroImpls(name).exists(_.isTable == kind))
        throw new IllegalArgumentException(
          s"""Macro Function with name "$name" already exists""")
      st.macroOps += CreateMacroOp(name, impls, orReplace)
    case None => meta.createMacro(name, impls, orReplace = orReplace)
  }

  def dropMacro(name: String, isTable: Boolean = false,
      ifExists: Boolean = false): Unit = txn match {
    case Some(st) =>
      if (!ifExists &&
          !effectiveMacroImpls(name).exists(_.isTable == isTable))
        throw new IllegalArgumentException(
          s"no ${if (isTable) "table " else ""}macro named $name")
      st.macroOps += DropMacroOp(name, isTable, ifExists)
    case None => meta.dropMacro(name, isTable, ifExists)
  }

  /** Committed macro implementations overlaid with the open transaction's
    * buffered creates/drops, in statement order. */
  private def effectiveMacroImpls(name: String,
      snapshotId: Long = meta.currentSnapshot().snapshotId)
      : Seq[MacroImpl] = {
    var impls = meta.macroImplsByName(name, snapshotId)
    txn.foreach(_.macroOps.foreach {
      case DropMacroOp(n, isTable, _) if n == name =>
        impls = impls.filterNot(_.isTable == isTable)
      case CreateMacroOp(n, newImpls, _) if n == name =>
        // a buffered create of a kind replaces that kind (a non-replace
        // duplicate was rejected at statement time)
        impls = impls.filterNot(_.isTable == newImpls.head.isTable) ++
          newImpls
      case _ =>
    })
    impls
  }

  /** Textual macro expansion at call sites, to fixpoint (macros may call
    * macros). Implementation choice per call site: exact arity first, then
    * the smallest implementation whose missing trailing parameters all
    * carry `:=` defaults. Bodies are parenthesized — scalar bodies inline
    * into expressions, table bodies become derived tables in FROM
    * (test_macro_tables.test `FROM xt(5,'tom')`). */
  private def expandMacros(sqlText: String, snapshotId: Long): String = {
    val macros = (meta.listMacros(snapshotId) ++
      txn.toSeq.flatMap(_.macroOps.collect {
        case CreateMacroOp(n, _, _) => n
      })).distinct
    if (macros.isEmpty) return sqlText
    var out = sqlText
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) {
      changed = false
      macros.foreach { m =>
        val impls = effectiveMacroImpls(m, snapshotId)
        if (impls.nonEmpty) {
          // args may contain one paren-nesting level (function calls);
          // quote the name — schema-qualified macros contain '.'
          val qm = java.util.regex.Pattern.quote(m)
          val call =
            (s"""(?i)\\b$qm\\s*\\(([^()]*(?:\\([^()]*\\)[^()]*)*)\\)""").r
          val next = call.replaceAllIn(out, mt => {
            val raw = mt.group(1).trim
            val args =
              if (raw.isEmpty) Seq.empty[String]
              else LakeSql.splitTop(raw).map(_.trim)
            val impl = impls.find(_.params.length == args.length)
              .orElse(impls.filter { i =>
                i.params.length > args.length &&
                  i.params.drop(args.length).forall(_._2.isDefined)
              }.sortBy(_.params.length).headOption)
              .getOrElse(throw new IllegalArgumentException(
                s"macro $m has no implementation for ${args.length} " +
                  s"argument(s)"))
            var expanded = impl.body
            impl.params.zipWithIndex.foreach { case ((p, dflt), i) =>
              val a = if (i < args.length) args(i) else dflt.get
              expanded = expanded.replaceAll(s"\\b$p\\b",
                java.util.regex.Matcher.quoteReplacement(a))
            }
            java.util.regex.Matcher.quoteReplacement(s"($expanded)")
          })
          if (next != out) { out = next; changed = true }
        }
      }
      rounds += 1
    }
    out
  }

  /** `schema.table` → (schema, table); unqualified names live in main
    * (reference schema model, ducklake_schema). */
  private def splitName(name: String): (String, String) = {
    val i = name.indexOf('.')
    if (i < 0) ("main", name) else (name.substring(0, i), name.substring(i + 1))
  }

  private def resolve(name: String,
      snapshotId: Option[Long] = None): TableInfo =
    lookup(name, snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no table $name"))

  private def lookup(name: String,
      snapshotId: Option[Long]): Option[TableInfo] = {
    val (s, t0) = splitName(name)
    // tables created inside the open transaction resolve for their own
    // statements (and no one else's — the catalog learns of them at commit)
    txn.flatMap(_.createdByName(s, t0)) match {
      case Some(pid) => Some(TableInfo(pid, "", -1L, t0, name))
      case None =>
        // buffered renames rebind names for the txn's own statements: the
        // requested CURRENT name translates back to the committed one
        val t = txn.fold(Option(t0))(txnCommittedName(_, s, t0))
        t.flatMap(n => meta.tableByName(n,
            snapshotId.getOrElse(meta.currentSnapshot().snapshotId), s))
          // tables dropped inside the open transaction are gone for reads
          .filterNot(info => txn.exists(_.dropped.contains(info.tableId)))
    }
  }

  /** columnsOf with the open transaction's created-table and
    * buffered-alter overlays */
  private def columnsAt(tableId: Long, snapshotId: Long): Seq[ColumnInfo] =
    if (tableId < 0) txn.get.created(tableId)._3
    else {
      val base = meta.columnsOf(tableId, snapshotId)
      txn match {
        case Some(st) =>
          st.alters.filter(_._1 == tableId).map(_._2)
            .foldLeft(base)(applyAlterLocal)
        case None => base
      }
    }

  /** in-memory mirror of one buffered alter, for reads inside the txn */
  private def applyAlterLocal(cols: Seq[ColumnInfo],
      spec: AlterSpec): Seq[ColumnInfo] = spec match {
    case AlterSpec.AddCol(n, ts, nullable, default, provIds) =>
      val it = provIds.iterator
      val out = scala.collection.mutable.ArrayBuffer.empty[ColumnInfo]
      def walk(order: Long, name: String, t: String, nl: Boolean,
          parent: Option[Long]): Unit = {
        val cid = it.next()
        out += ColumnInfo(cid, order, name, t, nl, parent,
          if (parent.isEmpty) default else None,
          if (parent.isEmpty) default else None)
        DuckLakeTypes.childSpecs(t).zipWithIndex.foreach {
          case ((fn, ft), i) => walk(i.toLong, fn, ft, nl = true, Some(cid))
        }
      }
      val maxOrder = cols.filter(_.parentColumn.isEmpty)
        .map(_.columnOrder).maxOption.getOrElse(-1L)
      walk(maxOrder + 1, n, ts, nullable, None)
      cols ++ out
    case AlterSpec.DropCol(n) =>
      val rootId = cols.find(x => x.parentColumn.isEmpty &&
          x.name.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(s"no column $n"))
        .columnId
      val dead = scala.collection.mutable.Set(rootId)
      var grew = true
      while (grew) {
        val more = cols.filter(c0 =>
          c0.parentColumn.exists(dead.contains) &&
            !dead.contains(c0.columnId)).map(_.columnId)
        grew = more.nonEmpty; dead ++= more
      }
      cols.filterNot(c0 => dead.contains(c0.columnId))
    case AlterSpec.RenameCol(o, n2) =>
      cols.map(c0 => if (c0.parentColumn.isEmpty && c0.name.equalsIgnoreCase(o))
        c0.copy(name = n2) else c0)
    case AlterSpec.SetDefault(n, v) =>
      cols.map(c0 => if (c0.parentColumn.isEmpty && c0.name.equalsIgnoreCase(n))
        c0.copy(defaultValue = v) else c0)
    case AlterSpec.SetNotNull(n, allowed) =>
      cols.map(c0 => if (c0.parentColumn.isEmpty && c0.name.equalsIgnoreCase(n))
        c0.copy(nullsAllowed = allowed) else c0)
    case AlterSpec.ChangeType(n, nt) =>
      cols.map(c0 => if (c0.parentColumn.isEmpty && c0.name.equalsIgnoreCase(n))
        c0.copy(typeString = nt) else c0)
  }

  /** guard shared by the buffered-ALTER paths: the txn must not already
    * hold staged data/deletes for the table (files staged under the old
    * schema would be misread after the change), and txn-created tables
    * take their schema from the create — alter them before creating. */
  private def bufferAlter(table: String, spec: Long => AlterSpec): Boolean =
    txn match {
      case Some(st) =>
        val t = resolve(table)
        if (t.tableId < 0) throw new IllegalArgumentException(
          "cannot ALTER a table created in the same transaction " +
            "(apply the final schema at CREATE)")
        require(st.pendingFiles(t.tableId).isEmpty &&
          !st.deletes.contains(t.tableId) &&
          !st.inlinedDeletes.contains(t.tableId),
          s"cannot ALTER $table: the transaction already staged writes " +
            "for it (commit them first)")
        st.alters += ((t.tableId, spec(t.tableId)))
        true
      case None => false
    }

  def createSchema(name: String): Unit = txn match {
    case Some(st) =>
      if (st.createdSchemas.contains(name) ||
          meta.listSchemas().exists(_.name == name))
        throw new IllegalArgumentException(s"schema $name already exists")
      st.createdSchemas += name
    case None => meta.createSchema(name): Unit
  }
  def dropSchema(name: String): Unit = meta.dropSchema(name)

  /** DETACH (reference detach_ducklake.test): release the catalog's
    * resources. For an embedded Derby catalog this shuts the database
    * down cleanly (flushes its log, frees file handles — the handle can
    * be re-attached afterwards); server/HTTP catalogs hold no local
    * state, so it is a no-op there. An open transaction is rolled back
    * first, like the reference's detach. */
  def detach(): Unit = {
    if (txn.isDefined) rollback()
    ownAlias.foreach(graft.plans.LakeRegistry.unregister)
    ownAlias = None
    meta.shutdown()
  }
  def listSchemas(): Seq[String] =
    meta.listSchemas().map(_.name) ++
      txn.toSeq.flatMap(_.createdSchemas)

  def schemaOf(name: String, snapshotId: Option[Long] = None): StructType =
    tableSchemaAt(name, snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no table $name"))

  /** [[schemaOf]], or None when no table has that name at the snapshot */
  private[graft] def tableSchemaAt(name: String,
      snapshotId: Option[Long]): Option[StructType] = {
    val sid = snapshotId.getOrElse(meta.currentSnapshot().snapshotId)
    lookup(name, Some(sid)).map(t => toStruct(columnsAt(t.tableId, sid)))
  }

  private def toStruct(cols: Seq[ColumnInfo]): StructType =
    StructType(cols.filter(_.parentColumn.isEmpty).map(c =>
      StructField(c.name, DuckLakeTypes.fromTypeString(c.typeString),
        c.nullsAllowed)))

  // --------------------------------------------------------------- appends

  /** Append a DataFrame as new immutable Parquet files + one snapshot.
    * Stats for every column are collected in a single distributed pass
    * grouped by output file (the reference collects them inside the COPY,
    * ducklake_insert.cpp:119-242). */
  def append(name: String, df: DataFrame): Snapshot =
    append(name, df, Nil, None)

  /** Append variant whose `commitOptions` / `batchGuard` land in the SAME
    * catalog transaction as the file registration (streaming sink
    * exactly-once — see [[MetadataManager.appendFiles]]). */
  def append(name: String, df: DataFrame,
      commitOptions: Seq[(String, String)],
      batchGuard: Option[(String, Long)]): Snapshot =
    appendCounted(name, df, commitOptions, batchGuard)._1

  /** [[append]] returning the rows it wrote — DuckDB's INSERT `Count`,
    * taken from the inlined rows or the written files' record counts,
    * never from an extra Spark job over the input. */
  private[graft] def insert(name: String, df: DataFrame): Long =
    appendCounted(name, df, Nil, None)._2

  /** INSERT OVERWRITE: replace every row of `name` with `df` in ONE
    * snapshot; returns the rows inserted. The query is checkpointed
    * before the delete, so it may read the table it overwrites. */
  private[graft] def insertOverwrite(name: String, df: DataFrame): Long = {
    val rows = df.localCheckpoint(eager = true)
    def run() = { delete(name, lit(true)); insert(name, rows) }
    try if (txn.isDefined) run() else transaction(run())
    finally checkpointRdd(rows).foreach(
      org.apache.spark.graft.Checkpoints.release)
  }

  private def appendCounted(name: String, df: DataFrame,
      commitOptions: Seq[(String, String)],
      batchGuard: Option[(String, Long)]): (Snapshot, Long) = {
    require(commitOptions.isEmpty && batchGuard.isEmpty || txn.isEmpty,
      "commit options cannot be attached to a buffered transaction append")
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val allCols = columnsAt(t.tableId, snap.snapshotId)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val aligned0 = alignColumns(df, cols)

    // data inlining: inserts at or under the row limit live as rows in the
    // catalog DB (reference ducklake_inline_data.cpp:15-120; limit option
    // ducklake_extension.cpp:36-38, default off here; inside a
    // multi-statement transaction inserts always write files so the whole
    // txn commits atomically; batch-guarded appends always write files so
    // the marker commits atomically with the data)
    val inlineLimit = optionFor(name, "data_inlining_row_limit")
      .map(_.toInt).getOrElse(0)
    if (inlineLimit > 0 && txn.isEmpty && commitOptions.isEmpty &&
      batchGuard.isEmpty) {
      val sample = aligned0.toJSON.take(inlineLimit + 1)
      if (sample.length <= inlineLimit)
        return (meta.appendInlined(t.tableId, sample.toSeq),
          sample.length.toLong)
    }

    // sort-on-insert: inject the table's sort spec below the write
    // (reference ducklake_insert.cpp:768-846); a SET/RESET SORTED BY
    // buffered in this txn overlays the committed spec
    val sortSpec = effectiveSortSpec(t.tableId, snap.snapshotId)
    val sortOn = optionFor(name, "sort_on_insert").forall(_ == "true")
    val spec = effectivePartitionSpec(t, snap.snapshotId)
    // PARTITIONED sorted writes sort inside writeAndCollect, AFTER the
    // hive partition columns exist, as (partition cols ++ sort keys):
    // the dynamic-partition writer requires an ordering on the partition
    // columns, and if the data arrives sorted by the keys alone it
    // inserts its own UNSTABLE (radix) sort on them — silently undoing
    // sort-on-insert inside every file. With the partition prefix the
    // writer's requirement is already satisfied, so no extra sort runs
    // and each written file is genuinely ordered by the spec (the
    // invariant spjScanInfo's ordering proof relies on).
    val aligned =
      if (sortSpec.nonEmpty && sortOn && spec.isEmpty)
        // expr(): sort keys may be expressions, not just columns
        // (reference insert_sorted_expression tests)
        aligned0.sortWithinPartitions(
          sortSpec.map((sortKey _).tupled): _*)
      else aligned0

    val files = writeAndCollect(name, aligned, cols,
      spec.map(partitionPlan(_, cols)), targetRowsPerFile(t.tableId),
      allCols = allCols,
      sortKeys = if (sortSpec.nonEmpty && sortOn && spec.isDefined)
        sortSpec.map((sortKey _).tupled) else Nil,
      inputSorted = sortSpec.nonEmpty && sortOn && spec.isEmpty)
    val written = files.map(_.recordCount).sum
    txn match {
      case Some(st) => // buffer; one snapshot at transaction commit
        st.appends += ((t.tableId, name, spec.map(_.partitionId), files))
        (snap, written)
      case None =>
        Lake.preCommitFault.foreach(_(name)) // test-only crash injection
        val committed =
          try meta.appendFiles(t.tableId, files, spec.map(_.partitionId),
            setOptions = commitOptions, batchGuard = batchGuard)
          catch {
            case e: DuplicateBatchException =>
              // replayed batch lost the race — remove its staged files
              files.foreach(f => io.delete(f.path))
              throw e
          }
        // auto_compact: opportunistic merge when small files accumulate
        // (reference auto_compact option, ducklake_set_option.cpp)
        if (optionFor(name, "auto_compact").contains("true")) {
          val target = optionFor(name, "target_file_size").map(_.toLong)
            .getOrElse(512L * 1024 * 1024)
          val live = meta.filesForScan(t.tableId, committed.snapshotId)
          if (live.count(_.file.fileSizeBytes < target / 2) > 8)
            mergeAdjacentFiles(name, target)
        }
        maybeAutoRefresh(name)
        (committed, written)
    }
  }

  // ---------------------------------------------- multi-statement txns

  /** Buffered state of an open transaction: data/delete files are staged
    * on disk as statements run, metadata lands as ONE snapshot at commit
    * (reference FlushChanges, ducklake_transaction.cpp:1371-1545).
    * Statements inside the transaction read their own writes (reference
    * transaction-local file list, ducklake_multi_file_list.cpp:282-291). */
  private final class TxnState(val base: Snapshot) {
    // append batches in statement order
    val appends = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Option[Long], Seq[PendingDataFile])]
    // tableId → (dataFileId → (delete path, count, size, format), removed)
    val deletes = scala.collection.mutable.LinkedHashMap
      .empty[Long, (scala.collection.mutable.LinkedHashMap[
        Long, (String, Long, Long, String)], Long)]
    // tableId → committed inlined row ids deleted inside this txn
    val inlinedDeletes = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.LinkedHashSet[Long]]
    // tables created INSIDE this txn (reference transaction-local catalog,
    // basic_transaction.test): provisional negative id → (schema, name,
    // synthesized ColumnInfos whose provisional ids follow the same DFS
    // pre-order the commit will allocate real ids in)
    val created = scala.collection.mutable.LinkedHashMap
      .empty[Long, (String, String, Seq[ColumnInfo])]
    private var nextProvisionalId = -100L
    def newProvisionalId(): Long = { nextProvisionalId -= 1; nextProvisionalId }
    def createdByName(schema: String, name: String): Option[Long] =
      created.collectFirst { case (id, (s, n, _))
        if s == schema && n == name => id }
    // committed tables dropped inside this txn: invisible to our own
    // statements, ended in the catalog at commit (drop-vs-drop conflicts
    // there — reference transaction_conflicts.test)
    val dropped = scala.collection.mutable.LinkedHashMap
      .empty[Long, (String, String)]
    // schemas created inside this txn (same-name concurrent creates
    // conflict at commit; tables created into them in the same txn work)
    val createdSchemas = scala.collection.mutable.LinkedHashSet
      .empty[String]
    // SET/RESET PARTITIONED BY buffered inside this txn: tableId
    // (provisional or committed) -> (provisional partition id,
    // (columnId, transform) specs — COLUMN IDS, so same-txn renames
    // never orphan the spec; provisional ids remap at commit). An empty
    // spec list is a buffered RESET.
    val partitionSpecs = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Seq[(Long, String)])]
    // SET/RESET SORTED BY buffered inside this txn (reference
    // set_sorted_by_rollback_basic.test: ROLLBACK leaves no sort info,
    // no snapshot): tableId (provisional or committed) → (expr, order,
    // null_order) keys; empty list = buffered RESET. The txn's own
    // inserts/flushes sort under the buffered spec.
    val sortSpecs = scala.collection.mutable.LinkedHashMap
      .empty[Long, Seq[(String, String, String)]]
    // flush_inlined_data buffered inside this txn (reference
    // data_inlining_flush.test inside BEGIN: read-your-writes, the flush
    // lands with the txn's single commit, ROLLBACK removes the file):
    // tableId → (flushed committed-inlined rowids, parquet file with
    // materialized rowid/snapshot columns)
    val flushes = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Seq[Long], PendingDataFile)]
    // COMMITTED tables renamed inside this txn, in statement order:
    // (tableId, schema, oldName, newName). Renames of txn-created tables
    // rebind `created` directly and never appear here (reference
    // rename_table_within_transaction.test).
    val renames = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String)]
    // macro DDL buffered in statement order (test_macro_transactions.test):
    // visible to the txn's own expansion, applied at commit
    val macroOps = scala.collection.mutable.ArrayBuffer.empty[MacroOp]
    // view DDL buffered in statement order (transaction_conflicts_view):
    // visible to the txn's own reads, applied at commit
    val viewOps = scala.collection.mutable.ArrayBuffer.empty[ViewOp]
    // column changes buffered for COMMITTED tables, in statement order
    // (reference multiple_column_changes.test); guarded so a table never
    // mixes staged data files with a pending schema change
    val alters = scala.collection.mutable.ArrayBuffer
      .empty[(Long, AlterSpec)]
    def pendingFiles(tableId: Long): Seq[PendingDataFile] =
      appends.filter(_._1 == tableId).flatMap(_._4).toSeq
    def pendingPaths(tableId: Long): Set[String] =
      pendingFiles(tableId).map(_.path).toSet
  }

  @volatile private var txn: Option[TxnState] = None

  /** BEGIN: start buffering DML statements into one transaction. */
  def begin(): Unit = {
    require(txn.isEmpty, "a transaction is already open")
    txn = Some(new TxnState(meta.currentSnapshot()))
  }

  /** COMMIT: land every buffered statement as ONE snapshot (shared
    * conflict checks; no-op commit when nothing was buffered). */
  def commit(): Unit = {
    val st = txn.getOrElse(
      throw new IllegalStateException("no open transaction"))
    val appends = st.appends.toSeq.map { case (tid, _, pid, files) =>
      (tid, pid, files)
    }
    val dels = st.deletes.toSeq.map { case (tid, (m, removed)) =>
      (tid, m.toSeq.map { case (fid, (p, n, s, fmt)) => (fid, p, n, s, fmt) },
        removed)
    }
    val inlinedDels = st.inlinedDeletes.toSeq.map { case (tid, ids) =>
      (tid, ids.toSeq)
    }
    val created = st.created.toSeq.map { case (pid, (s, n, cols)) =>
      val topLevel = cols.filter(_.parentColumn.isEmpty)
        .map(c => (c.name, c.typeString, c.nullsAllowed))
      (pid, s, n, topLevel, cols.map(_.columnId))
    }
    val drops = st.dropped.toSeq.map { case (tid, (s, n)) => (tid, s, n) }
    val newSchemas = st.createdSchemas.toSeq
    val alterList = st.alters.toSeq
    val renameList = st.renames.toSeq
    val partitionList = st.partitionSpecs.toSeq.map {
      case (tid, (ppid, specs)) => (tid, ppid, specs)
    }
    val sortList = st.sortSpecs.toSeq
    val flushList = st.flushes.toSeq.map { case (tid, (ids, pf)) =>
      (tid, ids, pf)
    }
    // txn is cleared only AFTER the catalog commit succeeds: on a
    // CommitConflictException (or any failure) the staged state stays so
    // the caller can rollback() (removing staged files) or retry commit()
    if (appends.nonEmpty || dels.nonEmpty || inlinedDels.nonEmpty ||
        created.nonEmpty || drops.nonEmpty || newSchemas.nonEmpty ||
        alterList.nonEmpty || st.macroOps.nonEmpty || st.viewOps.nonEmpty ||
        renameList.nonEmpty || partitionList.nonEmpty || sortList.nonEmpty ||
        flushList.nonEmpty)
      meta.commitTransaction(st.base.snapshotId, appends, dels, inlinedDels,
        created, drops, newSchemas, alterList, st.macroOps.toSeq,
        st.viewOps.toSeq, renameList, partitionList, sortList, flushList)
    txn = None
  }

  /** ROLLBACK: discard the open transaction — staged files removed from
    * disk, catalog untouched. */
  def rollback(): Unit = txn.foreach { st =>
    txn = None
    // a set_commit_message issued inside the rolled-back transaction must
    // not leak onto the next commit (audit/test_base_audit.test ROLLBACK)
    meta.clearPendingCommitMessage()
    (st.appends.flatMap(_._4.map(_.path)) ++
      st.deletes.values.flatMap(_._1.values.map(_._1)) ++
      st.flushes.values.map(_._2.path))
      .foreach(p => io.delete(p))
    // txn-created tables never reached the catalog; their staged files are
    // covered by the appends cleanup above. The table DIR is left in place:
    // dirs are shared by table name, so a concurrent writer committing the
    // same name may already own files inside it.
  }

  /** Run `body` as one transaction: every append/delete/update/merge
    * inside buffers its files and commits as a single snapshot at the end;
    * an exception rolls everything back (staged files removed, catalog
    * untouched). Reads inside the transaction see its own writes. DDL and
    * maintenance ops still commit immediately (statement-level, as in the
    * reference's auto-commit). One open transaction per Lake handle. */
  def transaction[T](body: => T): T = {
    begin()
    try {
      val out = body
      commit()
      out
    } catch {
      case e: Throwable => rollback(); throw e
    } finally txn = None
  }

  /** target_file_size → maxRecordsPerFile, from observed bytes/row of the
    * table's existing files (reference target-file-size write sizing,
    * ducklake_extension.cpp:46-47). None until stats exist. */
  private def targetRowsPerFile(tableId: Long): Option[Long] =
    for {
      targetStr <- meta.getOptionScoped("target_file_size", "table", tableId)
        .orElse(meta.getOption("target_file_size"))
      target = targetStr.toLong
      stats <- meta.tableStats(tableId)
      if stats.recordCount > 0 && stats.fileSizeBytes > 0
      bytesPerRow = stats.fileSizeBytes.toDouble / stats.recordCount
    } yield math.max(1L, (target / bytesPerRow).toLong)

  /** stored (expression, order, nulls) sort key → Spark sort Column,
    * honoring the catalog's null order (DuckDB defaults NULLS LAST; Spark
    * defaults nulls-first-for-asc, so the explicit form matters). */
  private def sortKey(e: String, ord: String, nulls: String): Column =
    (ord, nulls) match {
      case ("desc", "nulls_first") => expr(e).desc_nulls_first
      case ("desc", _) => expr(e).desc_nulls_last
      case (_, "nulls_first") => expr(e).asc_nulls_first
      case _ => expr(e).asc_nulls_last
    }

  /** ALTER TABLE ... SET SORTED BY (reference ducklake_sort_data.cpp).
    * DuckDB's default null order is NULLS LAST. */
  def setSortedBy(table: String, exprs: Seq[(String, String)]): Unit =
    setSortedByFull(table,
      exprs.map { case (e, ord) => (e, ord, "nulls_last") })

  /** SET SORTED BY with explicit null order per key. Sort expressions are
    * validated against the table's schema up front (reference
    * insert_sorted_expression: invalid expressions fail at SET time, not
    * at the next insert). */
  def setSortedByFull(table: String,
      exprs: Seq[(String, String, String)]): Unit = {
    val t = resolve(table)
    exprs.foreach { case (e, _, _) =>
      try this.table(table).select(expr(e)).queryExecution.analyzed
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"invalid sort expression '$e' for $table: ${ex.getMessage}")
      }
    }
    txn match {
      // buffered: the txn's own inserts sort under it, ROLLBACK discards
      // it without a snapshot (set_sorted_by_rollback_basic.test), the
      // last SET in the txn wins (insert_sorted_transaction.test)
      case Some(st) => st.sortSpecs(t.tableId) = exprs
      case None => meta.setSortSpec(t.tableId, exprs)
    }
  }

  /** ALTER TABLE ... RESET SORTED BY: subsequent inserts / compactions no
    * longer sort (reference reset_sorted family — an empty spec entry,
    * not a deleted one, so time travel sees the change). */
  def resetSortedBy(table: String): Unit = {
    val t = resolve(table)
    txn match {
      case Some(st) => st.sortSpecs(t.tableId) = Nil
      case None => meta.setSortSpec(t.tableId, Nil)
    }
  }

  /** ALTER TABLE ... RESET PARTITIONED BY (reference
    * partitioning/reset.test): new writes are unpartitioned. */
  def resetPartitionedBy(table: String): Unit = {
    val t = resolve(table)
    txn match {
      case Some(st) => // buffered like SET (an empty spec = RESET); a
        // provisional table id must never reach the committed catalog
        require(st.pendingFiles(t.tableId).isEmpty,
          s"cannot RESET PARTITIONED BY on $table: the transaction " +
            "already staged writes for it")
        st.partitionSpecs(t.tableId) = (st.newProvisionalId(), Nil)
      case None => meta.setPartitionSpec(t.tableId, Nil): Unit
    }
  }

  def setCommitMessage(author: String, message: String,
      extraInfo: Option[String] = None): Unit =
    meta.setCommitMessage(author, message, extraInfo)

  /** ducklake_set_option: global, or table-scoped when `table` is given
    * (reference ducklake_set_option.cpp table_name=> parameter). */
  def setOption(key: String, value: String,
      table: Option[String] = None): Unit = {
    // enabling inlining on a table whose columns collide with the
    // inlined-table system columns fails up front (reference
    // ducklake_util.cpp:352-358)
    if (key == "data_inlining_row_limit" &&
      scala.util.Try(value.toInt).toOption.exists(_ > 0))
      table.foreach { t =>
        val snap = meta.currentSnapshot()
        val names = meta.columnsOf(resolve(t).tableId, snap.snapshotId)
          .filter(_.parentColumn.isEmpty).map(_.name)
        validateNoInlinedSystemColumns(names, tableName = t)
      }
    // writer-option values validate at SET time, like the reference's
    // set_option (ducklake_set_option.cpp "Unsupported ..." errors)
    if (key == "parquet_compression" &&
      !Set("snappy", "zstd", "gzip", "lz4", "lz4raw", "brotli",
        "uncompressed", "none").contains(value.toLowerCase))
      throw new IllegalArgumentException(
        s"Unsupported parquet_compression '$value'")
    if (key == "parquet_version" && !Set("1", "2").contains(value))
      throw new IllegalArgumentException(
        s"Unsupported parquet_version '$value' (expected 1 or 2)")
    table match {
      case Some(t) =>
        meta.setOption(key, value, Some("table"), Some(resolve(t).tableId))
      case None => meta.setOption(key, value)
    }
  }
  def options(): Seq[(String, String)] = meta.options()

  /** mv_auto_refresh: after a DML commit, catch every managed view
    * defined over this table up to the new snapshot (guarded against
    * re-entry — the refresh's own MV commits must not re-trigger).
    * Opt-in per table or globally, like auto_compact. */
  private def maybeAutoRefresh(table: String): Unit =
    if (txn.isEmpty &&
        !graft.operators.IncrementalView.autoRefreshActive &&
        optionFor(table, "mv_auto_refresh").contains("true"))
      graft.operators.IncrementalView.refreshViewsOn(this, table): Unit

  /** table-scoped value wins over the global one */
  private def optionFor(table: String, key: String): Option[String] = {
    val tid = scala.util.Try(resolve(table).tableId).toOption
    tid.flatMap(id => meta.getOptionScoped(key, "table", id))
      .orElse(meta.getOption(key))
  }

  /** Parquet writer options from ducklake_set_option (reference
    * ducklake_set_option.cpp): compression codec + level, row-group byte
    * sizing — mapped onto the parquet-hadoop keys Spark's writer honors. */
  private def writeOpts(table: String): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    optionFor(table, "parquet_compression")
      .foreach(v => m += "compression" -> v)
    optionFor(table, "parquet_compression_level")
      .foreach(v => m += "parquet.compression.codec.zstd.level" -> v)
    optionFor(table, "parquet_row_group_size_bytes")
      .foreach(v => m += "parquet.block.size" -> v)
    // row-COUNT row-group cap + format version (reference
    // parquet_compression.test: parquet_row_group_size, parquet_version)
    optionFor(table, "parquet_row_group_size")
      .foreach(v => m += "parquet.block.row.count.limit" -> v)
    optionFor(table, "parquet_version").foreach(v =>
      m += "parquet.writer.version" ->
        (if (v == "2") "PARQUET_2_0" else "PARQUET_1_0"))
    // parquet bloom filters for equality-heavy columns (Spark-native
    // extra beyond the reference's option set): point lookups skip row
    // groups whose bloom misses — at 100 TB the difference between a
    // full-partition scan and a handful of row groups for id probes.
    // Value: comma-separated column list, optional :ndv suffix, e.g.
    // `set_option('parquet_bloom_filter_columns', 'user_id:100000,sku')`
    optionFor(table, "parquet_bloom_filter_columns").foreach { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).foreach { entry =>
        val (c, ndv) = entry.split(":") match {
          case Array(c0, n) => (c0.trim, Some(n.trim))
          case _ => (entry, None)
        }
        m += s"parquet.bloom.filter.enabled#$c" -> "true"
        ndv.foreach(n =>
          m += s"parquet.bloom.filter.expected.ndv#$c" -> n)
      }
    }
    m.toMap ++ cryptoOpts
  }

  /** Flush inlined rows to Parquet, preserving rowids + insertion
    * snapshots via materialized columns (reference
    * ducklake_flush_inlined_data.cpp:608-686). */
  def flushInlinedData(name: String): Long = {
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val flAllCols = meta.columnsOf(t.tableId, snap.snapshotId)
    val cols = flAllCols.filter(_.parentColumn.isEmpty)
    val inlined0 = meta.liveInlinedRows(t.tableId, snap.snapshotId)
    // rows already flushed by this open txn are no longer flushable
    val inlined = txn.flatMap(_.flushes.get(t.tableId)) match {
      case Some((ids, _)) => inlined0.filterNot(r => ids.contains(r._1))
      case None => inlined0
    }
    if (inlined.isEmpty) return 0L
    val rows = inlinedDf(inlined, toStruct(cols))
      .select((cols.map(c => col(c.name)) :+
        col("rowid").as(RowIdCol) :+ col("snapshot_id").as(SnapCol)): _*)
    // a sorted table flushes in sort order (reference
    // data_inlining_flush_sorted_basic.test), incl. a spec buffered in
    // the open transaction (…_flush_sorted_transaction_renamed.test)
    val sortSpec = effectiveSortSpec(t.tableId, snap.snapshotId)
    val one = rows.coalesce(1)
    val shaped =
      if (sortSpec.isEmpty) one
      else one.sortWithinPartitions(sortSpec.map((sortKey _).tupled): _*)
    val pending = writeAndCollect(name, shaped, cols, allCols = flAllCols)
      .head.copy(hasRowIds = true)
    txn match {
      case Some(st) => // buffered: the txn's own reads serve the file in
        // place of the inlined rows; ONE snapshot at commit
        require(t.tableId >= 0,
          "flush_inlined_data inside a transaction only applies to " +
            "committed tables (a txn-created table's rows flush at commit)")
        require(!st.flushes.contains(t.tableId),
          s"inlined data of $name was already flushed in this transaction")
        require(!st.inlinedDeletes.contains(t.tableId),
          s"cannot flush inlined data of $name after deleting inlined " +
            "rows in the same transaction")
        st.flushes(t.tableId) = (inlined.map(_._1), pending)
      case None =>
        meta.endInlinedRows(t.tableId, inlined.map(_._1), Seq(pending),
          isFlush = true, explicitRowIdStart = Some(inlined.map(_._1).min))
    }
    inlined.size.toLong
  }

  /** inlined rows as a DataFrame with rowid/snapshot_id attached */
  private def inlinedDf(rows: Seq[(Long, Long, String)],
      schema: StructType): DataFrame = {
    import spark.implicits._
    rows.toDF("rowid", "snapshot_id", "j")
      .select(from_json(col("j"), schema).as("r"), col("rowid"),
        col("snapshot_id"))
      .select((schema.fieldNames.map(n => col(s"r.$n").as(n)) :+
        col("rowid") :+ col("snapshot_id")): _*)
  }

  /** (label, transform-column) per partition field; label doubles as the
    * hive dir name segment. */
  private def partitionPlan(ps: PartitionSpec,
      cols: Seq[ColumnInfo]): Seq[(String, Column)] = {
    val byId = cols.map(c => c.columnId -> c).toMap
    // hive dir labels follow the reference's GetPartitionKeyName: bare
    // `year=`/`month=`/… for transforms (identity keeps the column
    // name), `year_<col>` on collisions — so a lake's own layout
    // round-trips through add_data_files' hive key lookup
    val used = scala.collection.mutable.Set.empty[String]
    ps.fields.map { f =>
      val ci = byId(f.columnId)
      val label = partitionKeyName(f.transform, ci.name, used.toSet)
      used += label
      (label, transformCol(f.transform, col(ci.name)))
    }
  }

  /** CREATE TABLE ... AS SELECT (reference ducklake_insert.cpp:49-78). */
  def createTableAs(name: String, df: DataFrame): Snapshot = {
    createTable(name, df.schema)
    append(name, df)
  }

  /** The sort spec this handle's WRITES must use: a SET/RESET SORTED BY
    * buffered in the open transaction overlays the committed spec
    * (reference insert_sorted_transaction.test). */
  private def effectiveSortSpec(tableId: Long,
      snapshotId: Long): Seq[(String, String, String)] =
    txn.flatMap(_.sortSpecs.get(tableId)).getOrElse(
      if (tableId < 0) Nil
      else meta.currentSortSpec(tableId, snapshotId))

  /** The partition spec this handle's WRITES must use: the txn's own
    * buffered SET/RESET (provisional ids, remapped at commit) overlays
    * the committed spec; empty = unpartitioned. */
  private def effectivePartitionSpec(t: TableInfo,
      snapshotId: Long): Option[PartitionSpec] =
    txn.flatMap(_.partitionSpecs.get(t.tableId)) match {
      case Some((_, Nil)) => None // buffered RESET
      case Some((ppid, fields)) =>
        Some(PartitionSpec(ppid, fields.zipWithIndex.map {
          case ((cid, tr), i) => PartitionField(i.toLong, cid, tr)
        }))
      case None if t.tableId < 0 => None
      case None => meta.currentPartitionSpec(t.tableId, snapshotId)
        .filter(_.fields.nonEmpty) // RESET PARTITIONED BY → empty spec
    }

  private def alignColumns(df: DataFrame, cols: Seq[ColumnInfo]): DataFrame = {
    // unknown columns are an error, not a silent drop: a misnamed input
    // would otherwise append default/NULL rows (reference rejects them)
    val unknown = df.columns.filterNot(n => cols.exists(_.name == n))
    require(unknown.isEmpty,
      s"unknown column(s) ${unknown.mkString(", ")} in append; table has " +
        cols.map(_.name).mkString(", "))
    val exprs = cols.map { c =>
      val dt = DuckLakeTypes.fromTypeString(c.typeString)
      if (df.columns.contains(c.name)) col(c.name).cast(dt).as(c.name)
      else lit(c.defaultValue.orNull).cast(dt).as(c.name)
    }
    df.select(exprs: _*)
  }

  /** Shredded variant paths of a table (reference
    * ducklake_variant_stats.cpp shredding): the table option
    * `variant_shredded_paths` lists `column:$.path:type` entries separated
    * by `;` — each gets per-file min/max stats at write time and prunes
    * files on `variant_get(column, path)` filters. */
  private def variantShreddedSpecs(table: String,
      cols: Seq[ColumnInfo]): Seq[(ColumnInfo, String, DataType)] =
    optionFor(table, "variant_shredded_paths").toSeq.flatMap(_.split(';'))
      .map(_.trim).filter(_.nonEmpty).flatMap { spec =>
        spec.split(':') match {
          case Array(cname, path, tpe) =>
            cols.find(c => c.name == cname && c.typeString == "variant")
              .map(ci => (ci, path,
                org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                  .parseDataType(tpe)))
          case _ => None
        }
      }

  /** Write df under a staging dir, collect per-file stats in ONE agg pass,
    * move files to their final ducklake-<uuid> names (hive-style partition
    * dirs when a spec is set, NULL keys → __HIVE_DEFAULT_PARTITION__ like
    * the reference, ducklake_partition_data.cpp:125-128), return entries. */
  private def writeAndCollect(table: String, df: DataFrame,
      cols: Seq[ColumnInfo],
      partition: Option[Seq[(String, Column)]] = None,
      maxRowsPerFile: Option[Long] = None,
      allCols: Seq[ColumnInfo] = Nil,
      sortKeys: Seq[Column] = Nil,
      inputSorted: Boolean = false): Seq[PendingDataFile] = {
    val stageMarker = s"stage-${UUID.randomUUID()}"
    val stagingRel = s"$table/$stageMarker"
    val stagingDir = io.abs(stagingRel)
    // per_thread_output=false → one output file per insert instead of one
    // per task (reference per_thread_output option)
    val coalesced = optionFor(table, "per_thread_output").contains("false")
    val df0 = if (coalesced) df.coalesce(1) else df
    // per-file physical order survives the write iff the data was sorted
    // per task partition AND tasks map 1:1 to files — coalesce(1)
    // concatenates sorted runs, which is NOT a sorted file
    val writtenSorted = (inputSorted || sortKeys.nonEmpty) && !coalesced
    val writer0 = partition match {
      case Some(parts) =>
        val withParts = parts.zipWithIndex.foldLeft(df0) {
          case (d, ((_, expr), i)) => d.withColumn(s"__p$i", expr)
        }
        // sort-on-insert under a partition spec: (partition cols ++ sort
        // keys) — satisfies the dynamic-partition writer's required
        // ordering exactly, so it inserts no sort of its own and the
        // per-file key order survives (see the append-path comment)
        val shaped =
          if (sortKeys.isEmpty) withParts
          else withParts.sortWithinPartitions(
            parts.indices.map(i => col(s"__p$i")) ++ sortKeys: _*)
        shaped.write.options(writeOpts(table))
          .partitionBy(parts.indices.map(i => s"__p$i"): _*)
      case None => df0.write.options(writeOpts(table))
    }
    maxRowsPerFile.fold(writer0)(n =>
      writer0.option("maxRecordsPerFile", n)).parquet(stagingDir)

    // a zero-row write leaves a staging dir with no parquet parts (only
    // _SUCCESS) — the stats read below would fail schema inference. An
    // empty rewrite is a legal no-op: UPDATE/MERGE matching nothing
    // (reference: zero rows updated, no files written). RECURSIVE check:
    // partitioned writes put the parts under hive subdirectories (whose
    // names may hold literal spaces — countFilesRecursive never
    // URI-parses).
    val nParts = io.countFilesRecursive(stagingRel, ".parquet")
    if (nParts == 0) {
      io.deleteRecursively(stagingRel)
      return Nil
    }

    // shredded-variant-path stats ride in the same single pass
    val shredded = variantShreddedSpecs(table, cols)
    val pass = statsPass(allCols, cols, c => Some(c.name), shredded)
    // the written schema is known: no schema-inference job over the
    // parts; one part is read by one task, so the per-file aggregate
    // below needs no shuffle
    val staged = pqRead.schema(df0.schema).parquet(stagingDir)
    // format v1.1 row_group_count: each part's footer is read in the same
    // job, once per file after the aggregate (never a driver parquet
    // read); encrypted footers stay NULL — the column is nullable metadata
    val ioRef = io
    val rowGroups =
      if (cryptoOpts.nonEmpty) lit(null).cast(LongType)
      else udf((f: String) => ioRef.rowGroupCount(
        new org.apache.hadoop.fs.Path(f).toString)).apply(col("__file"))
    val statRows = pass.prepare(if (nParts == 1) staged.coalesce(1)
      else staged)
      .groupBy(input_file_name().as("__file"))
      .agg(pass.aggs.head, pass.aggs.tail: _*)
      .withColumn("__rg", rowGroups)
      .collect()

    // belt to the countFilesRecursive braces above: a zero-record part can't
    // appear in this groupBy today (no rows → no group; Spark 4.1.2 also
    // writes no empty parts), but a writer change that restores
    // schema-only parts must not turn a no-match UPDATE/MERGE into a
    // committed 0-row data file — drop them here so the no-op contract
    // survives writer behavior, and let the staging cleanup below remove
    // the bytes
    statRows.toSeq.filter(_.getAs[Long]("__rows") > 0L)
      .sortBy(_.getAs[String]("__file")).map { row =>
      // Path(String), NOT new URI(...): input_file_name() is only
      // partially URI-escaped — hive partition dirs may contain literal
      // spaces (timestamp values), which URI rejects while Hadoop's own
      // parser accepts and keeps byte-for-byte
      val srcPath = new org.apache.hadoop.fs.Path(
        row.getAs[String]("__file"))
      val (rows, stats, varStats) = pass.decode(row)
      // partition dir segments __p{i}=<escaped-value> between staging
      // root and the part file, located by the stage-UUID marker (pure
      // hex — never escaped by any layer, so this works even when the
      // lake ROOT path contains characters input_file_name escapes).
      // TWO decode layers on the values: the hive writer escaped special
      // chars (':' → %3A) and input_file_name URI-escaped the '%' on top
      // (→ %253A) — while leaving spaces raw, which is why the path
      // parses with Hadoop's Path, not java.net.URI
      val rawPath = srcPath.toUri.getPath
      val mIdx = rawPath.indexOf(stageMarker)
      require(mIdx >= 0, s"staged file outside staging dir: $rawPath")
      val segs = rawPath.substring(mIdx + stageMarker.length)
        .stripPrefix("/").split("/").toSeq
      val partVals = segs.dropRight(1).zipWithIndex.map { case (seg, i) =>
        val v = unescapeHive(unescapeHive(
          seg.substring(seg.indexOf('=') + 1)))
        (i.toLong, v)
      }
      // hive_file_pattern=false → flat layout: partition values live only
      // in the catalog (reads never do directory discovery, so pruning is
      // unaffected; object stores prefer flat keys)
      val hiveDirs = partition
        .filter(_ => optionFor(table, "hive_file_pattern")
          .forall(_ == "true"))
        .map { parts =>
          partVals.zip(parts).map { case ((_, v), (label, _)) =>
            s"$label=${escapeHive(v)}"
          }.mkString("/")
        }.filter(_.nonEmpty)
      val finalName = s"ducklake-${UUID.randomUUID()}.parquet"
      val relPath = hiveDirs.map(d => s"$table/$d/$finalName")
        .getOrElse(s"$table/$finalName")
      io.move(srcPath.toString, relPath)
      PendingDataFile(relPath, rows, io.size(relPath), stats,
        partitionValues = partVals.toSeq, variantStats = varStats,
        writtenSorted = writtenSorted,
        rowGroupCount = Option(row.getAs[java.lang.Long]("__rg"))
          .map(_.longValue))
    }.tapEach(_ => ()).toSeq match {
      case done =>
        // remove staging leftovers (_SUCCESS etc.)
        io.deleteRecursively(stagingRel)
        done
    }
  }

  // ----------------------------------------------------------------- scans

  /** Current-snapshot read. `filter` is applied in Spark AND converted to
    * catalog-side stats pruning so non-matching files never reach the scan
    * (reference's core optimization, metadata_manager.cpp:1492-1593). */
  def table(name: String, filter: Option[Column] = None): DataFrame =
    scan(name, meta.currentSnapshot(), filter, withMeta = false)

  /** Exact row count from catalog metadata alone — no data bytes read.
    * At any snapshot a data file has at most one LIVE delete file (a new
    * one absorbs/replaces its predecessor and its count is cumulative,
    * commitDeletes) and live inlined deletes are disjoint from it (the
    * absorbing commit ends them in the same snapshot), so
    * `Σ(record_count − delete_count − inlined_deletes) + inlined_rows`
    * is exact. The reference answers unfiltered COUNT(*) from footer
    * metadata the same way (metadata_cache.test); at 100 TB this is a
    * catalog query instead of a full scan. Returns None when a
    * transaction is open (txn-local files/deletes overlay the catalog —
    * callers fall back to the real scan). */
  def fastCount(name: String, version: Option[Long] = None,
      tsMs: Option[Long] = None): Option[Long] = {
    if (txn.isDefined) return None
    val snapId = version.map(v =>
      meta.snapshotByVersion(v).getOrElse(throw new IllegalArgumentException(
        s"no snapshot $v")).snapshotId)
      .orElse(tsMs.map(ms =>
        meta.snapshotAtTime(ms).getOrElse(throw new IllegalArgumentException(
          s"no snapshot at time $ms")).snapshotId))
      .getOrElse(meta.currentSnapshot().snapshotId)
    val t = resolve(name, Some(snapId))
    val files = meta.filesForScan(t.tableId, snapId)
    val inlDel = meta.liveInlinedDeletes(t.tableId, snapId)
      .groupBy(_._1).map { case (fid, ps) => fid -> ps.size.toLong }
    val fileRows = files.map { f =>
      f.file.recordCount -
        f.deleteFiles.filter(_.beginSnapshot <= snapId)
          .map(_.deleteCount).maxOption.getOrElse(0L) -
        inlDel.getOrElse(f.file.dataFileId, 0L)
    }.sum
    Some(fileRows + meta.liveInlinedRows(t.tableId, snapId).size)
  }

  /** MIN/MAX of a column answered from catalog stats — the reference's
    * min_max_optimization family. The bounds come from the LIVE per-file
    * stats (min of file mins / max of file maxes), NOT the cumulative
    * table stats: per-file stats are exact for the file forever, so the
    * fold stays correct after compaction/rewrite drops deleted rows —
    * where the widen-only global row would still report the deleted
    * extremum (reference recomputes globals on compaction for the same
    * reason, min_max_optimization_compaction.test).
    *
    * Bails whenever the proof could be wrong: any delete (row counts
    * diverge from stats), inlined rows (no stats), any file with
    * non-null values but a missing/unstorable bound (±Infinity doubles,
    * >256-char strings), NaN contamination (NaN outranks the stored max
    * in Spark ordering), ADD COLUMN DEFAULT backfill, open transactions,
    * undecodable bounds. Returns Catalyst-internal (min, max). */
  def fastExtrema(name: String, column: String): Option[(Any, Any)] = {
    if (txn.isDefined) return None
    val snapId = meta.currentSnapshot().snapshotId
    val t = resolve(name, Some(snapId))
    val files = meta.filesForScan(t.tableId, snapId)
    if (files.isEmpty) return None
    if (files.exists(_.deleteFiles.nonEmpty)) return None
    if (meta.liveInlinedDeletes(t.tableId, snapId).nonEmpty) return None
    if (meta.liveInlinedRows(t.tableId, snapId).nonEmpty) return None
    val ci = meta.columnsOf(t.tableId, snapId)
      .find(c => c.parentColumn.isEmpty && c.name == column)
      .getOrElse(return None)
    // a column added with DEFAULT reads the default back from files
    // written before it existed — values no file stats ever saw
    if (ci.initialDefault.isDefined) return None
    val dt = DuckLakeTypes.fromTypeString(ci.typeString)
    if (!StatsCodec.statsSupported(dt)) return None
    val ranges = meta.fileColumnRanges(t.tableId, ci.columnId)
    val bounds = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    files.foreach { f =>
      ranges.get(f.file.dataFileId) match {
        case None =>
          // no stats row (e.g. file written before the column existed
          // without a default): nothing provable
          if (f.file.recordCount > 0) return None
        case Some((mnS, mxS, nonNull, nan)) =>
          if (nan) return None
          nonNull match {
            // NULL value_count/null_count (foreign writer): unknown
            // counts mean "cannot prove", not "no values" — bail
            case None => return None
            case Some(n) if n > 0 =>
              val mm = for {
                mn <- mnS; mx <- mxS
                mnV <- StatsCodec.decodeInternal(mn, dt)
                mxV <- StatsCodec.decodeInternal(mx, dt)
              } yield (mnV, mxV)
              mm match {
                case Some(p) => bounds += p
                // non-null values with an unstorable bound (±Inf, long
                // string): the true extremum is invisible to stats
                case None => return None
              }
            case Some(_) => () // provably all-null file: contributes nothing
          }
      }
    }
    if (bounds.isEmpty) return None // all rows null → MIN/MAX are NULL
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    Some((bounds.map(_._1).minBy(identity)(Ordering.fromLessThan(
        (a: Any, b: Any) => cmp(a, b) < 0)),
      bounds.map(_._2).maxBy(identity)(Ordering.fromLessThan(
        (a: Any, b: Any) => cmp(a, b) < 0))))
  }

  /** Top-N file-pruning threshold (reference topn_file_pruning.test):
    * for `ORDER BY col DESC LIMIT k`, the best value T such that per-file
    * stats PROVE at least k non-null rows ≥ T — rows < T can then never
    * reach the top k, so a `col >= T` row filter is semantics-preserving
    * and the catalog stats pruner turns it into a file-list cut. `asc`
    * mirrors with file maxes and `col <= T`.
    *
    * Soundness guards: no deletes anywhere (file row counts would
    * overstate the proof), no open transaction; when the requested null
    * ordering puts NULLs FIRST, additionally every file must prove zero
    * nulls and no inlined rows may exist (the filter drops null rows).
    * Inlined DATA rows only add candidates above the threshold, so they
    * do not break the proof. Returns the Catalyst-internal threshold. */
  def topNThreshold(name: String, column: String, k: Long,
      desc: Boolean, nullsLead: Boolean): Option[Any] = {
    if (txn.isDefined || k <= 0) return None
    val snapId = meta.currentSnapshot().snapshotId
    val t = resolve(name, Some(snapId))
    val files = meta.filesForScan(t.tableId, snapId)
    if (files.size < 2) return None // nothing to prune
    if (files.exists(_.deleteFiles.nonEmpty)) return None
    if (meta.liveInlinedDeletes(t.tableId, snapId).nonEmpty) return None
    val ci = meta.columnsOf(t.tableId, snapId)
      .find(c => c.parentColumn.isEmpty && c.name == column)
      .getOrElse(return None)
    val dt = DuckLakeTypes.fromTypeString(ci.typeString)
    if (!StatsCodec.statsSupported(dt) ||
      dt == org.apache.spark.sql.types.BooleanType) return None
    val ranges = meta.fileColumnRanges(t.tableId, ci.columnId)
    if (nullsLead) {
      val allNoNull = files.forall(f =>
        ranges.get(f.file.dataFileId).exists(_._3.contains(f.file.recordCount)))
      if (!allNoNull || meta.liveInlinedRows(t.tableId, snapId).nonEmpty)
        return None
    }
    val proofs = files.flatMap { f =>
      ranges.get(f.file.dataFileId).flatMap { case (mn, mx, nonNull, _) =>
        for { // unknown counts prove nothing for this file (sound: the
              // proof only ever needs a LOWER bound on qualifying rows)
          n <- nonNull
          b <- (if (desc) mn else mx).flatMap(StatsCodec.decodeInternal(_, dt))
        } yield (b, n)
      }
    }
    if (proofs.isEmpty) return None
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    val sorted =
      if (desc) proofs.sortWith((a, b) => cmp(a._1, b._1) > 0)
      else proofs.sortWith((a, b) => cmp(a._1, b._1) < 0)
    var cum = 0L
    for ((bound, n) <- sorted) {
      cum += n
      if (cum >= k) return Some(bound)
    }
    None
  }

  def tableAtVersion(name: String, version: Long,
      filter: Option[Column] = None): DataFrame = {
    val snap = meta.snapshotByVersion(version).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $version"))
    scan(name, snap, filter, withMeta = false)
  }

  def tableAtTime(name: String, tsMs: Long,
      filter: Option[Column] = None): DataFrame = {
    val snap = meta.snapshotAtTime(tsMs).getOrElse(
      throw new IllegalArgumentException(s"no snapshot at time $tsMs"))
    scan(name, snap, filter, withMeta = false)
  }

  /** Read with the reference's virtual columns: rowid, snapshot_id,
    * filename, file_row_number (reference ducklake_table_entry.cpp:398-411). */
  def tableWithRowId(name: String): DataFrame =
    scan(name, meta.currentSnapshot(), None, withMeta = true)

  /** Dynamic join-filter repruning — the lake-side analogue of dynamic
    * partition pruning. Scans `name` with its catalog file list pre-pruned
    * to the key RANGE actually present on the (broadcast-small) build side
    * of an equi-join: one tiny job computes [min,max] of `dimKeys`' first
    * column, and the range becomes a catalog stats filter on `keyCol`
    * (plus a parquet-pushed residual). At 100 TB the fact side's file list
    * shrinks BEFORE any fact bytes are read — the reference re-prunes its
    * file list from runtime join filters the same way (dynamic filter
    * pushdown into ducklake_multi_file_list). Join exactness never
    * depends on this (the range is a superset of the keys); the dim side
    * must be broadcast-class small — the same contract DPP and broadcast
    * joins already impose. */
  /** Storage-co-partitioned (bucket-wise) inner join. When both tables
    * are partitioned `bucket(n)` on their join keys with the SAME width,
    * equal keys can only meet inside the same bucket — so the join runs
    * as n independent per-bucket joins, each scanning only that bucket's
    * files (catalog partition pruning) with the right side broadcast.
    * The big side is never shuffled and no broadcast exceeds ~|right|/n:
    * at 100 TB this replaces the all-to-all exchange of a shuffle join
    * with n small broadcasts, and stays memory-safe for a right side n×
    * larger than one broadcast could hold.
    *
    * Files written before the current spec (or under an older one) are
    * never partition-pruned, so they appear in every branch; the
    * per-branch residual `bucket(key) = b` slices them exactly once.
    * For current-spec files the residual is a per-row no-op predicate.
    * Inner-join only: NULL keys never match and the residual drops them,
    * which is exactly inner-join semantics. */
  def bucketJoin(left: String, leftKey: String,
      right: String, rightKey: String): DataFrame = {
    val snap = meta.currentSnapshot()
    // (partition key index, bucket width) of the bucket field on `key`
    def bucketField(table: String, key: String): (Long, Int) = {
      val t = resolve(table, Some(snap.snapshotId))
      val ci = meta.columnsOf(t.tableId, snap.snapshotId)
        .find(_.name == key).getOrElse(throw new IllegalArgumentException(
          s"no column $key in $table"))
      val ps = meta.currentPartitionSpec(t.tableId, snap.snapshotId)
        .getOrElse(throw new IllegalArgumentException(
          s"$table is not partitioned"))
      val f = ps.fields.find(f => f.columnId == ci.columnId &&
        f.transform.startsWith("bucket(")).getOrElse(
        throw new IllegalArgumentException(
          s"$table is not bucket-partitioned on $key"))
      (f.keyIndex,
        f.transform.stripPrefix("bucket(").stripSuffix(")").trim.toInt)
    }
    def bucketScan(table: String, key: String, keyIndex: Long, n: Int,
        b: Int): DataFrame =
      scan(table, snap, Some(
        graft.functions.Murmur3Functions.bucket(n, col(key)) === b),
        withMeta = false, extraPartEq = Seq((keyIndex, b.toString)))
    val (lIdx, ln) = bucketField(left, leftKey)
    val (rIdx, rn) = bucketField(right, rightKey)
    require(ln == rn,
      s"bucket widths differ: $left=bucket($ln), $right=bucket($rn)")
    (0 until ln).map { b =>
      val l = bucketScan(left, leftKey, lIdx, ln, b)
      val r = bucketScan(right, rightKey, rIdx, rn, b)
      l.join(broadcast(r), l(leftKey) === r(rightKey), "inner")
    }.reduce(_ union _)
  }

  def tableJoinPruned(name: String, keyCol: String,
      dimKeys: DataFrame): DataFrame = {
    val k = dimKeys.columns.head
    val r = dimKeys.agg(min(col(k)), max(col(k))).head()
    if (r.isNullAt(0)) table(name).filter(lit(false))
    else table(name,
      Some(col(keyCol).between(lit(r.get(0)), lit(r.get(1)))))
  }

  /** File groups for the DSv2 storage-partitioned read
    * ([[graft.sources.GraftBucketedScan]]): the current snapshot's file
    * list keyed by the table's bucket-transform partition value, so the
    * scan can report `KeyGroupedPartitioning(bucket(n, col))` and two
    * co-bucketed tables join with ZERO exchange — the cluster idiom of
    * the reference's single-node locality (bucket transform, reference
    * src/storage/ducklake_partition_data.cpp:54-140).
    *
    * This is deliberately the CLEAN-LAYOUT fast path: every selected file
    * must be bucket-placed under the current spec, current schema epoch,
    * delete-free, and catalog-native — anything else (pending deletes,
    * epoch-mapped or name-mapped files, inlined rows, open transaction)
    * throws, and the caller falls back to [[table]], whose generic plan
    * handles all of it. Maintenance restores eligibility:
    * `rewrite_data_files` folds deletes in, and newly written files are
    * always current-epoch + bucket-placed. */
  /** `atSnapshot`: evaluate fitness and the file list AS OF that
    * snapshot instead of the current one — the DSv2 read path pins the
    * snapshot at table resolution (DataFrame construction), so a layout
    * change committed before execution is snapshot-isolated away rather
    * than surfacing as a scan-build IllegalStateException (MVCC reader
    * semantics; expire/cleanup of the pinned snapshot remains the usual
    * time-travel caveat). */
  private[graft] def spjScanInfo(name: String,
      filter: Option[Column],
      atSnapshot: Option[Long] = None): SpjScanInfo = {
    def unfit(reason: String): Nothing =
      throw new IllegalStateException(
        s"storage-partitioned scan of $name unavailable: $reason " +
          "(read via lake.table / the graft SQL surface instead)")
    if (txn.isDefined) unfit("open transaction")
    val snap = atSnapshot
      .map(id => meta.snapshotByVersion(id)
        .getOrElse(unfit(s"pinned snapshot $id no longer exists")))
      .getOrElse(meta.currentSnapshot())
    val t = resolve(name, Some(snap.snapshotId))
    val allCols = columnsAt(t.tableId, snap.snapshotId)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val schema = toStruct(cols)
    val ps = meta.currentPartitionSpec(t.tableId, snap.snapshotId)
      .getOrElse(unfit("table is not partitioned"))
    val bucketField = ps.fields match {
      case Seq(f) if f.transform.startsWith("bucket(") => f
      case _ => unfit("partition spec is not a single bucket transform")
    }
    val width = bucketField.transform.stripPrefix("bucket(")
      .stripSuffix(")").trim.toInt
    val bucketCol = cols.find(_.columnId == bucketField.columnId)
      .getOrElse(unfit("bucket column dropped"))
    val filterExpr = filter.map(f => normalizeOps(ColumnBridge.toCatalyst(f)))
    val statsFilters = filterExpr.toSeq.flatMap(e =>
      extractStatsFilters(e, allCols))
    val partEq = filterExpr.toSeq.flatMap(e =>
      extractPartitionEq(e, cols, ps))
    val scanFiles = meta.filesForScan(t.tableId, snap.snapshotId,
      statsFilters, partEq, Nil, partitionSpecId = Some(ps.partitionId))
    if (meta.liveInlinedRows(t.tableId, snap.snapshotId).nonEmpty)
      unfit("inlined rows pending (flush_inlined_data first)")
    val inlDel = meta.liveInlinedDeletes(t.tableId, snap.snapshotId)
      .map(_._1).toSet
    // schema-epoch check mirrors buildScan: a file from an older epoch is
    // eligible iff its epoch's projection to the current schema is the
    // identity (the version history is lake-global, so unrelated DDL on
    // OTHER tables bumps it without changing this table's shape)
    val vers = meta.schemaVersions()
    def versionAt(s: Long): (Long, Long) = {
      val i = vers.lastIndexWhere(_._1 <= s)
      val e = vers(if (i < 0) 0 else i)
      (e._2, e._1)
    }
    val curVer = versionAt(snap.snapshotId)._1
    val identityCache = scala.collection.mutable.Map.empty[Long, Boolean]
    def identityEpoch(file: DataFileEntry): Boolean = {
      val (ver, repr) = versionAt(file.beginSnapshot)
      identityCache.getOrElseUpdate(ver, ver == curVer ||
        epochProjection(allCols, meta.columnsOf(t.tableId, repr)).isEmpty)
    }
    scanFiles.foreach { sf =>
      if (sf.deleteFiles.exists(_.beginSnapshot <= snap.snapshotId) ||
        inlDel.contains(sf.file.dataFileId))
        unfit(s"deletes pending on ${sf.file.path} (rewrite_data_files " +
          "folds them in)")
      if (sf.file.mappingId.isDefined)
        unfit(s"name-mapped foreign file ${sf.file.path}")
      if (!identityEpoch(sf.file))
        unfit(s"file ${sf.file.path} predates the current schema epoch")
      if (!sf.file.partitionId.contains(ps.partitionId))
        unfit(s"file ${sf.file.path} predates the current partition spec")
    }
    val pv = meta.filePartitionValues(t.tableId)
    val groups = scanFiles.groupBy { sf =>
      val raw = pv.getOrElse(sf.file.dataFileId, Nil)
        .find(_._1 == bucketField.keyIndex)
        .getOrElse(unfit(s"no bucket value recorded for ${sf.file.path}"))
        ._2
      // a non-integer value means hive's null/default partition (null
      // bucket keys) — a clean unfit, not a raw NumberFormatException
      raw.toIntOption.getOrElse(unfit(
        s"non-integer bucket value '$raw' for ${sf.file.path} " +
          "(null bucket keys land in the hive default partition)"))
    }.toSeq.sortBy(_._1).map { case (b, fs) =>
      (b, fs.map(sf => (absUri(sf.file.path), sf.file.fileSizeBytes)))
    }
    // provable per-partition ordering: the live sort spec must be plain
    // top-level columns, every scanned file written AFTER the spec went
    // live, every file PHYSICALLY written in spec order (writtenSorted —
    // recorded at commit; UPDATE/MERGE rewrites and sort_on_insert=false
    // appends record false until a re-sorting compaction restores it),
    // and every bucket group a single file — then the scan can REPORT
    // the ordering and a downstream sort-merge join needs no SortExec.
    // Gating on the persisted flag (not just begin-snapshot recency) is
    // what makes the report sound: an unsorted rewrite passing here
    // would elide SortExec and silently corrupt merge joins.
    val ordering = meta.currentSortSpecWithBegin(t.tableId, snap.snapshotId)
      .filter { case (begin, exprs) =>
        exprs.nonEmpty &&
          exprs.forall { case (e, _, _) =>
            e.matches("[A-Za-z_][A-Za-z0-9_]*") &&
              cols.exists(_.name.equalsIgnoreCase(e))
          } &&
          scanFiles.forall(sf => sf.file.beginSnapshot > begin &&
            sf.file.writtenSorted) &&
          groups.forall(_._2.size == 1)
      }.map(_._2).getOrElse(Nil)
    SpjScanInfo(schema, bucketCol.name, width, groups, ordering)
  }

  private[graft] def scan(name: String, snap: Snapshot, filter: Option[Column],
      withMeta: Boolean,
      extraPartEq: Seq[(Long, String)] = Nil): DataFrame = {
    val t = resolve(name, Some(snap.snapshotId))
    val allCols = columnsAt(t.tableId, snap.snapshotId)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val schema = toStruct(cols)
    val filterExpr = filter.map(f =>
      normalizeOps(ColumnBridge.toCatalyst(f)))
    val statsFilters = filterExpr.toSeq.flatMap(e =>
      extractStatsFilters(e, allCols))
    val partSpec =
      if (filterExpr.isEmpty && extraPartEq.isEmpty) None
      else meta.currentPartitionSpec(t.tableId, snap.snapshotId)
    val partEq = for {
      e <- filterExpr.toSeq
      ps <- partSpec.toSeq
      eq <- extractPartitionEq(e, cols, ps)
    } yield eq
    val variantFilters = filterExpr.toSeq.flatMap(e =>
      extractVariantFilters(e, cols))
    val geoFilters = filterExpr.toSeq.flatMap(e =>
      extractGeoFilters(e, allCols))
    val scanFilesAll = meta.filesForScan(t.tableId, snap.snapshotId,
      statsFilters, partEq ++ extraPartEq, variantFilters,
      partitionSpecId = partSpec.map(_.partitionId))
    // geometry bbox pruning: drop files whose stored extent is disjoint
    // from the query window (reference DuckLakeColumnGeoStats; extent
    // JSON in extra_stats). Files without geo stats are kept — pruning
    // is only ever an optimization.
    val scanFiles0 = if (geoFilters.isEmpty) scanFilesAll else {
      val statsByCol = geoFilters.map(_.columnId).distinct
        .map(cid => cid -> meta.fileExtraStats(t.tableId, cid)).toMap
      scanFilesAll.filter { sf =>
        geoFilters.forall { gf =>
          statsByCol(gf.columnId).get(sf.file.dataFileId).forall { json =>
            graft.functions.GeoWkb.intersects(
              graft.functions.GeoWkb.deserialize(json),
              gf.xmin, gf.ymin, gf.xmax, gf.ymax)
          }
        }
      }
    }
    // transaction-local deletes overlay the committed file list
    val scanFiles = txn match {
      case Some(st) if snap.snapshotId >= st.base.snapshotId =>
        st.deletes.get(t.tableId) match {
          case Some((m, _)) if m.nonEmpty =>
            scanFiles0.map { sf =>
              m.get(sf.file.dataFileId).map { case (p, n, _, fmt) =>
                sf.copy(deleteFiles = sf.deleteFiles :+ DeleteFileEntry(
                  -1L, t.tableId, snap.snapshotId, None,
                  sf.file.dataFileId, p, n, fmt))
              }.getOrElse(sf)
            }
          case _ => scanFiles0
        }
      case _ => scanFiles0
    }
    val df = buildScan(t, allCols, scanFiles, snap, withMeta,
      inlinedDeletes = meta.liveInlinedDeletes(t.tableId, snap.snapshotId))
    // inlined-data pseudo-files: rows living in the catalog DB join the
    // scan (reference ducklake_multi_file_list.cpp:360-374)
    val inlined0 = meta.liveInlinedRows(t.tableId, snap.snapshotId)
    // a flush buffered in the open txn serves its rows from the written
    // file instead of the catalog rows (read-your-writes)
    val txnFlush = txn.filter(st => snap.snapshotId >= st.base.snapshotId)
      .flatMap(_.flushes.get(t.tableId))
    val flushedIds = txnFlush.map(_._1.toSet).getOrElse(Set.empty[Long])
    // read-your-writes: inlined rows deleted inside the open transaction
    // disappear from its own reads before commit
    val inlined = (txn match {
      case Some(st) if snap.snapshotId >= st.base.snapshotId =>
        st.inlinedDeletes.get(t.tableId) match {
          case Some(dead) => inlined0.filterNot(r => dead.contains(r._1))
          case None => inlined0
        }
      case _ => inlined0
    }).filterNot(r => flushedIds.contains(r._1))
    val full = if (inlined.isEmpty) df else {
      val extra = inlinedDf(inlined, schema)
      val shaped =
        if (withMeta) extra
          .withColumn("filename", lit(InlinedFile))
          .withColumn("file_row_number", col("rowid"))
          // inlined pseudo-file sits after the committed data files in
          // the multi-file list (reference ducklake_multi_file_list.cpp:
          // committed files, then inlined-data tables, then txn-local)
          .withColumn("file_index", lit(scanFiles.size.toLong))
          .select(df.columns.map(col).toSeq: _*)
        else extra.select(schema.fieldNames.map(col).toSeq: _*)
      df.unionByName(shaped)
    }
    // a column ADDed with a DEFAULT inside the open txn: every committed
    // file/inlined row predates the column (the alter guard forbids
    // staged writes before it), so the NULL fill-in IS the initial
    // default — exact, and only applied to the committed part
    val full2 = txn match {
      case Some(st) if t.tableId >= 0 =>
        st.alters.collect {
          case (tid, a: AlterSpec.AddCol)
            if tid == t.tableId && a.default.isDefined => a
        }.foldLeft(full) { (d, a) =>
          val dt = DuckLakeTypes.fromTypeString(a.typeString)
          d.withColumn(a.name,
            coalesce(col(a.name), lit(a.default.get).cast(dt)))
        }
      case _ => full
    }

    // transaction-local files: statements inside an open transaction read
    // their own uncommitted writes (reference transaction-local list,
    // ducklake_multi_file_list.cpp:282-291); rowids are provisional
    // (negative) until commit assigns the real sequence
    val withTxn = txn match {
      case Some(st) if snap.snapshotId >= st.base.snapshotId &&
        st.pendingFiles(t.tableId).nonEmpty =>
        import spark.implicits._
        val bufFiles = st.pendingFiles(t.tableId)
        val p0 = pqRead.schema(schema)
          .parquet(bufFiles.map(f => abs(f.path)): _*)
        val shaped =
          if (!withMeta) p0.select(schema.fieldNames.map(col).toSeq: _*)
          else {
            // txn-local files index after the committed files and the
            // committed-inlined pseudo-file slot (reference multi-file
            // list order: files, inlined tables, transaction-local)
            val txnBase = scanFiles.size.toLong +
              (if (inlined.nonEmpty) 1L else 0L)
            val info = bufFiles.zipWithIndex
              .map { case (f, i) => (absUri(f.path), f.path, txnBase + i) }
              .toDF("__abs", "__rel", "__fidx")
            p0.withColumn("__abs", col("_metadata.file_path"))
              .withColumn("__pos", col("_metadata.row_index"))
              .join(broadcast(info), Seq("__abs"))
              .withColumn("rowid",
                -org.apache.spark.sql.functions
                  .abs(xxhash64(col("__rel"), col("__pos"))) - 2L)
              .withColumn("snapshot_id", lit(-1L))
              .select((schema.fieldNames.map(col).toSeq :+
                col("rowid") :+ col("snapshot_id") :+
                col("__rel").as("filename") :+
                col("__pos").as("file_row_number") :+
                col("__fidx").as("file_index")): _*)
          }
        full2.unionByName(shaped)
      case _ => full2
    }
    // the txn-buffered flushed file: materialized rowid/snapshot columns
    // take the place of the served inlined rows (reference
    // data_inlining_flush.test inside BEGIN)
    val withFlush = txnFlush match {
      case Some((_, pf)) =>
        val raw = pqRead.parquet(abs(pf.path))
        val shaped =
          if (!withMeta) raw.select(schema.fieldNames.map(col).toSeq: _*)
          else {
            val txnCount = txn.map(_.pendingFiles(t.tableId).size)
              .getOrElse(0)
            raw
              .withColumn("rowid", col(RowIdCol))
              .withColumn("snapshot_id", col(SnapCol))
              .withColumn("filename", lit(pf.path))
              .withColumn("file_row_number", col("_metadata.row_index"))
              .withColumn("file_index", lit(scanFiles.size.toLong +
                (if (inlined.nonEmpty) 1L else 0L) + txnCount))
              .select(withTxn.columns.map(col).toSeq: _*)
          }
        withTxn.unionByName(shaped)
      case None => withTxn
    }
    filter.map(withFlush.filter).getOrElse(withFlush)
  }

  /** Assemble the multi-file scan: parquet reader over the pruned file
    * list, rowid from row_id_start + _metadata.row_index (or the
    * materialized column after compaction, reference
    * ducklake_multi_file_reader.cpp:574-596), positional delete anti-join.
    *
    * Files are read with the column names/types of the schema epoch they
    * were written under and projected to the current schema by column_id
    * (the field-id mapping of reference ducklake_multi_file_reader.cpp /
    * ducklake_name_map.cpp) — so RENAME/DROP, including nested fields, are
    * metadata-only and old files still read correctly. */
  private def buildScan(t: TableInfo, allCols: Seq[ColumnInfo],
      scanFiles: Seq[ScanFile], snap: Snapshot,
      withMeta: Boolean,
      inlinedDeletes: Seq[(Long, Long)] = Nil): DataFrame = {
    import spark.implicits._
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val schema = toStruct(cols)
    if (scanFiles.isEmpty) {
      val full = schema
        .add("rowid", LongType).add("snapshot_id", LongType)
        .add("filename", StringType).add("file_row_number", LongType)
        .add("file_index", LongType)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (withMeta) full else schema)
      return empty
    }

    // schema epoch per file: floor-lookup its begin_snapshot in the
    // schema-version history; files from older epochs read under their
    // own column names/types and map to the current schema by column_id
    val vers = meta.schemaVersions()
    def versionAt(s: Long): (Long, Long) = {
      val i = vers.lastIndexWhere(_._1 <= s)
      val e = vers(if (i < 0) 0 else i)
      (e._2, e._1)
    }
    val curVer = versionAt(snap.snapshotId)._1
    val planCache = scala.collection.mutable.Map.empty[
      Long, Option[(StructType, Seq[Column])]]
    def epochPlanOf(file: DataFileEntry): Option[(StructType, Seq[Column])] = {
      val (ver, repr) = versionAt(file.beginSnapshot)
      planCache.getOrElseUpdate(ver,
        if (ver == curVer) None
        else epochProjection(allCols,
          meta.columnsOf(t.tableId, repr)))
    }
    // foreign files registered via add_data_files read under their own
    // parquet column names (ducklake_name_mapping), projected to the
    // current schema by column_id — same shape as the epoch mapping.
    // is_partition entries are served from the file path's hive segments
    // (reference ducklake_multi_file_reader.cpp:449-467)
    val mappingCache =
      scala.collection.mutable.Map.empty[Long, Seq[(String, Long, Boolean)]]
    def mappingOf(mid: Long) =
      mappingCache.getOrElseUpdate(mid, meta.nameMapping(mid))
    def hiveSigFor(mid: Long, path: String): String = {
      val hiveKeys = mappingOf(mid).collect { case (s, _, true) => s }
      if (hiveKeys.isEmpty) ""
      else {
        val hive = parseHiveSegments(path)
        hiveKeys.sorted
          .map(k => s"$k=${hive.getOrElse(k.toLowerCase, "")}")
          .mkString("/")
      }
    }
    def nameMappedPlan(mid: Long,
        sample: DataFileEntry): (StructType, Seq[Column]) = {
      val entries = mappingOf(mid)
      val srcById = entries.map { case (s, cid, hp) => cid -> (s, hp) }.toMap
      val fileSchema = readSchemaOf(sample.path)
      val hive = parseHiveSegments(sample.path)
      val readFields = cols.flatMap(cc => srcById.get(cc.columnId).collect {
        case (s, false) => fileSchema.fields.find(_.name == s)
          .getOrElse(StructField(s, DuckLakeTypes.fromTypeString(cc.typeString)))
      })
      val projs = cols.map { cc =>
        val dt = DuckLakeTypes.fromTypeString(cc.typeString)
        srcById.get(cc.columnId) match {
          case Some((s, true)) =>
            val raw = hive.getOrElse(s.toLowerCase,
              throw new IllegalArgumentException(
                s"""Column "$s" should have been read from hive """ +
                  "partitions - but it was not found in filename " +
                  s""""${sample.path}""""))
            val v = if (raw == HiveNullPartition) null else raw
            lit(v).cast(dt).as(cc.name)
          case Some((s, false)) =>
            fileSchema.fields.find(_.name == s)
              .map(ff => conformValue(col(s), ff.dataType, dt))
              .getOrElse(col(s).cast(dt)).as(cc.name)
          case None => lit(cc.initialDefault.orNull).cast(dt).as(cc.name)
        }
      }
      (StructType(readFields), projs)
    }
    val epochGroups: Seq[(Option[(StructType, Seq[Column])], Seq[ScanFile])] =
      scanFiles.groupBy(f => f.file.mappingId match {
        case Some(mid) => (1L, mid, hiveSigFor(mid, f.file.path))
        case None => (0L, versionAt(f.file.beginSnapshot)._1, "")
      }).toSeq.sortBy(_._1).map { case ((kind, id, _), fs) =>
        val plan =
          if (kind == 1L) Some(nameMappedPlan(id, fs.head.file))
          else epochPlanOf(fs.head.file)
        (plan, fs)
      }

    // FAST PATH: a plain read (no virtual columns requested) of files with
    // no applicable deletes needs none of the rowid machinery — it is a
    // bare multi-file parquet scan (per epoch), fully open to Catalyst
    // pushdown with no joins in the plan.
    val scannedIds = scanFiles.map(_.file.dataFileId).toSet
    val liveDeletes = scanFiles.flatMap(_.deleteFiles)
      .exists(_.beginSnapshot <= snap.snapshotId) ||
      inlinedDeletes.exists(d => scannedIds.contains(d._1))
    if (!withMeta && !liveDeletes) {
      return epochGroups.map { case (plan, fs) =>
        val paths = fs.map(f => abs(f.file.path))
        plan match {
          case None => pqRead.schema(schema).parquet(paths: _*)
            .select(schema.fieldNames.map(col).toSeq: _*)
          case Some((readSchema, projs)) =>
            pqRead.schema(readSchema).parquet(paths: _*)
              .select(projs: _*)
        }
      }.reduce(_ unionByName _)
    }

    // Files written by compaction/flush carry materialized rowid+snapshot
    // columns which take precedence over row_id_start + row_index
    // (reference ducklake_multi_file_reader.cpp:574-596); a snapshot can mix
    // both kinds, so scan them as (epoch × materialized) groups and union.
    val fileInfo = scanFiles.zipWithIndex.map { case (f, i) =>
      (absUri(f.file.path), f.file.path, f.file.rowIdStart,
        f.file.beginSnapshot, i.toLong)
    }.toDF("__abs", "__rel", "__start", "__fsnap", "__fidx")

    def readGroup(group: Seq[ScanFile], materialized: Boolean,
        plan: Option[(StructType, Seq[Column])]) = {
      val dataSchema = plan.map(_._1).getOrElse(schema)
      val readSchema =
        if (materialized)
          StructType(dataSchema.fields :+ StructField(RowIdCol, LongType) :+
            StructField(SnapCol, LongType))
        else dataSchema
      val base0 = pqRead.schema(readSchema)
        .parquet(group.map(f => abs(f.file.path)): _*)
        .withColumn("__abs", col("_metadata.file_path"))
        .withColumn("__pos", col("_metadata.row_index"))
      val base1 = plan match {
        case None => base0
        case Some((_, projs)) =>
          val carried = Seq(col("__abs"), col("__pos")) ++
            (if (materialized) Seq(col(RowIdCol), col(SnapCol)) else Nil)
          base0.select(projs ++ carried: _*)
      }
      val base = base1.join(broadcast(fileInfo), Seq("__abs"))
      base
        .withColumn("rowid",
          if (materialized) col(RowIdCol) else col("__start") + col("__pos"))
        .withColumn("snapshot_id",
          // update-rewritten files store NULL snapshot ids — the row
          // version was created at the file's own commit snapshot
          if (materialized) coalesce(col(SnapCol), col("__fsnap"))
          else col("__fsnap"))
        .drop(RowIdCol, SnapCol)
    }
    // materialized-vs-raw split comes from the catalog flag recorded at
    // compaction/flush commit — no parquet footer reads on the driver
    // (a first scan of a 100k-file table stays metadata-only)
    val groups = epochGroups.flatMap { case (plan, fs) =>
      val (matFiles, rawFiles) = fs.partition(_.file.hasRowIds)
      (if (matFiles.nonEmpty)
        Seq(readGroup(matFiles, materialized = true, plan)) else Nil) ++
        (if (rawFiles.nonEmpty)
          Seq(readGroup(rawFiles, materialized = false, plan)) else Nil)
    }
    val withIds = groups.reduce(_ unionByName _)

    // delete files (positional parquet or roaring DVs); snapshot-filtered
    // so time travel sees only deletes committed by then
    val delEntries = scanFiles.flatMap(_.deleteFiles)
      .filter(_.beginSnapshot <= snap.snapshotId)
    val relById = scanFiles.map(f => f.file.dataFileId -> f.file.path).toMap
    // inlined-delete rows (small deletes living in the catalog DB) join
    // the anti-join input alongside delete files; ended rows are already
    // snapshot-filtered by the caller's liveInlinedDeletes
    val inlDelDf =
      if (inlinedDeletes.isEmpty) None
      else {
        val rows = inlinedDeletes.flatMap { case (fid, pos) =>
          relById.get(fid).map(rel => (rel, pos))
        }
        if (rows.isEmpty) None else Some(rows.toDF("file_path", "pos"))
      }
    val delRows = (deleteRowsDf(delEntries, relById).toSeq ++ inlDelDf)
      .reduceOption(_ unionByName _)
    val afterDeletes = delRows match {
      case None => withIds
      case Some(dels) =>
        withIds.join(
          dels.select(col("file_path").as("__rel"), col("pos").as("__pos")),
          Seq("__rel", "__pos"), "left_anti")
    }

    val out =
      if (withMeta)
        afterDeletes.select(
          (schema.fieldNames.map(col).toSeq :+
            col("rowid") :+ col("snapshot_id") :+
            col("__rel").as("filename") :+
            col("__pos").as("file_row_number") :+
            col("__fidx").as("file_index")): _*)
      else afterDeletes.select(schema.fieldNames.map(col).toSeq: _*)
    out
  }

  /** Read-schema + projection converting files written under an older
    * schema epoch to the current one, matching columns (and nested struct
    * fields) by stable column_id. None when the epoch is read-identical. */
  private def epochProjection(curAll: Seq[ColumnInfo],
      oldAll: Seq[ColumnInfo]): Option[(StructType, Seq[Column])] = {
    val curTop = curAll.filter(_.parentColumn.isEmpty)
    val oldTop = oldAll.filter(_.parentColumn.isEmpty)
    val oldById = oldTop.map(c => c.columnId -> c).toMap
    val identical = curTop.size == oldTop.size &&
      curTop.zip(oldTop).forall { case (a, b) =>
        a.columnId == b.columnId && a.name == b.name &&
          a.typeString == b.typeString
      }
    if (identical) None
    else {
      val readFields = curTop.flatMap(cc => oldById.get(cc.columnId)).map(oc =>
        StructField(oc.name, DuckLakeTypes.fromTypeString(oc.typeString),
          nullable = true))
      val projs = curTop.map { cc =>
        oldById.get(cc.columnId) match {
          case None => // column added after the file was written:
            // old rows read the column's initial_default (reference
            // ducklake_multi_file_reader.cpp default-value handling)
            lit(cc.initialDefault.orNull)
              .cast(DuckLakeTypes.fromTypeString(cc.typeString)).as(cc.name)
          case Some(oc) =>
            mapExpr(col(oc.name), oc, cc, oldAll, curAll).as(cc.name)
        }
      }
      Some((StructType(readFields), projs))
    }
  }

  /** Expression converting one column from its old epoch shape to the
    * current one: identity when unchanged, recursive rebuild for nested
    * evolution (struct fields matched by column_id; list/map recurse into
    * their element/key/value child slots), plain cast for widening. */
  private def mapExpr(src: Column, oc: ColumnInfo, cc: ColumnInfo,
      oldAll: Seq[ColumnInfo], curAll: Seq[ColumnInfo]): Column = {
    val curDt = DuckLakeTypes.fromTypeString(cc.typeString)
    def kidsOf(ci: ColumnInfo, all: Seq[ColumnInfo]): Seq[ColumnInfo] =
      all.filter(_.parentColumn.contains(ci.columnId)).sortBy(_.columnOrder)
    if (oc.typeString == cc.typeString) src
    else if (DuckLakeTypes.isStruct(cc.typeString) &&
      DuckLakeTypes.isStruct(oc.typeString)) {
      val oldKids = kidsOf(oc, oldAll)
      val curKids = kidsOf(cc, curAll)
      if (curKids.isEmpty || oldKids.isEmpty) src.cast(curDt)
      else {
        val oldKidById = oldKids.map(k => k.columnId -> k).toMap
        val fields = curKids.map { k =>
          oldKidById.get(k.columnId) match {
            case Some(ok) =>
              mapExpr(src.getField(ok.name), ok, k, oldAll, curAll).as(k.name)
            case None =>
              lit(k.initialDefault.orNull)
                .cast(DuckLakeTypes.fromTypeString(k.typeString)).as(k.name)
          }
        }
        when(src.isNotNull, struct(fields: _*))
          .otherwise(lit(null)).cast(curDt)
      }
    } else if (DuckLakeTypes.isList(cc.typeString) &&
      DuckLakeTypes.isList(oc.typeString)) {
      (kidsOf(oc, oldAll), kidsOf(cc, curAll)) match {
        case (Seq(ok), Seq(ck)) if ok.columnId == ck.columnId =>
          transform(src, x => mapExpr(x, ok, ck, oldAll, curAll))
            .cast(curDt)
        case _ => src.cast(curDt)
      }
    } else if (DuckLakeTypes.isMap(cc.typeString) &&
      DuckLakeTypes.isMap(oc.typeString)) {
      (kidsOf(oc, oldAll), kidsOf(cc, curAll)) match {
        case (Seq(okK, okV), Seq(ckK, ckV))
          if okK.columnId == ckK.columnId && okV.columnId == ckV.columnId =>
          val keyed = transform_keys(src,
            (k, _) => mapExpr(k, okK, ckK, oldAll, curAll))
          transform_values(keyed,
            (_, v) => mapExpr(v, okV, ckV, oldAll, curAll)).cast(curDt)
        case _ => src.cast(curDt)
      }
    } else src.cast(curDt)
  }

  /** Spark/Hive escape partition dir values as %XX for special chars;
    * __HIVE_DEFAULT_PARTITION__ stands for NULL. */
  private def unescapeHive(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  private def escapeHive(s: String): String =
    s.flatMap {
      case c if "\"#%'*/:=?\\{[]^".contains(c) =>
        f"%%${c.toInt}%02X"
      case c => c.toString
    }

  /** hive partition-dir sentinel for NULL keys (Spark/Hive convention,
    * reference ducklake_partition_data.cpp:125-128) */
  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** All deleted (file_path, pos) rows of a set of delete-file entries,
    * reading positional parquet and expanding roaring DVs (DV blobs are
    * small; at scale they'd broadcast as bitmaps rather than expand, but
    * the anti-join form keeps one code path). `withSnap` adds each
    * position's DELETION snapshot (the delete file's begin snapshot,
    * `del_snap`) for CDC. A Parquet delete part holds the rows of every
    * data file its writer task owned: `exact` keeps a data file's rows
    * only from its own entry. */
  private def deleteRowsDf(entries: Seq[DeleteFileEntry],
      relById: Map[Long, String], exact: Boolean = false,
      withSnap: Boolean = false): Option[DataFrame] = {
    import spark.implicits._
    val (roaring, parquetE) = entries.partition(_.format == "roaring")
    val out = (Seq("file_path", "pos") ++
      (if (withSnap) Seq("del_snap") else Nil)).map(col)
    val pq = Option.when(parquetE.nonEmpty) {
      val rows = pqRead
        .schema(StructType(Seq(StructField("file_path", StringType),
          StructField("pos", LongType))))
        .parquet(parquetE.map(e => abs(e.path)).distinct: _*)
      val src = col("_metadata.file_path")
      val kept = if (!exact) rows else rows.filter(
        concat(src, lit("\n"), col("file_path")).isin(parquetE.map(e =>
          s"${absUri(e.path)}\n${relById(e.dataFileId)}"): _*))
      if (!withSnap) kept.select(out: _*)
      else kept.withColumn("__src", src).join(broadcast(parquetE
        .map(e => absUri(e.path) -> e.beginSnapshot).distinct
        .toDF("__src", "del_snap")), Seq("__src")).select(out: _*)
    }
    val rr = Option.when(roaring.nonEmpty) {
      // expand DV blobs executor-side (a 100k-file table would other-
      // wise serially open 100k blobs on the driver); io is serializable
      val lakeIo = io
      val blobs = roaring.map(e =>
        (e.path, relById(e.dataFileId), e.beginSnapshot))
      spark.sparkContext
        .parallelize(blobs, math.min(blobs.size, 32).max(1))
        .flatMap { case (dvPath, dataRel, snapId) =>
          DeletionVectors.positions(lakeIo.readAllBytes(dvPath))
            .map(p => (dataRel, p, snapId))
        }.toDF("file_path", "pos", "del_snap").select(out: _*)
    }
    (pq.toSeq ++ rr).reduceOption(_ unionByName _)
  }

  private def readSchemaOf(relPath: String): StructType =
    Lake.fileSchemaCache.computeIfAbsent(abs(relPath),
      p => pqRead.parquet(p).schema)

  private def abs(rel: String): String = io.abs(rel)
  /** matches Spark's _metadata.file_path rendering (Hadoop Path.toString:
    * scheme + single slash on local FS) */
  private def absUri(rel: String): String = io.absUri(rel)

  // ------------------------------------------------------------------- DML

  /** DELETE: write positional delete files for matched rows (one snapshot;
    * consecutive deletes against a file are unioned — reference
    * ducklake_delete.cpp:36-206). Returns deleted-row count. */
  def delete(name: String, cond: Column): Long = {
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    // the predicate also reaches catalog stats pruning: a point delete
    // reads the files that can hold its key, not the whole table
    val matched = scan(name, snap, Some(cond), withMeta = true)
      .select(col("filename").as("__file"), col("file_row_number").as("__pos"))
    val n = withMatched(matched, None) { (rows, perFile) =>
      deleteByPosition(name, t, snap, positionsOf(rows), perFile)
    }
    if (n > 0) maybeAutoRefresh(name)
    n
  }

  /** Run one DML statement over its matched rows evaluated ONCE: `plan`
    * (the pruned scan plus condition; for MERGE the join with the source),
    * with the target position as `__file`/`__pos`, is checkpointed in the
    * executors and every later step reads the checkpoint, so a
    * nondeterministic condition rewrites exactly the rows it deletes. The
    * first job counts the rows leaving each file (`leaves`, for MERGE;
    * inlined rows under [[Lake.InlinedFile]]); no position reaches the
    * driver. Downstream writes get one partition per maxPartitionBytes. */
  private def withMatched[A](plan: DataFrame, leaves: Option[Column])(
      body: (DataFrame, Map[String, Long]) => A): A = {
    val rows = plan.localCheckpoint(eager = false)
    try {
      val perFile = leavingPerFile(rows, leaves)
      val bytes = spark.sparkContext.getRDDStorageInfo
        .filter(i => checkpointRdd(rows).exists(_.id == i.id))
        .map(i => i.memSize + i.diskSize).sum
      val n = bytes / spark.sessionState.conf.filesMaxPartitionBytes + 1
      body(if (n < rows.rdd.getNumPartitions) rows.coalesce(n.toInt)
        else rows, perFile)
    } finally checkpointRdd(rows).foreach(
      org.apache.spark.graft.Checkpoints.release)
  }

  private def checkpointRdd(checkpointed: DataFrame) =
    checkpointed.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** Rows leaving each file as ONE Spark job whatever the AQE setting (an
    * RDD shuffle is not split into query stages). MERGE first reduces by
    * target position: a row matched twice is an error. */
  private def leavingPerFile(rows: DataFrame,
      leaves: Option[Column]): Map[String, Long] = {
    val parts = math.max(1, math.min(rows.rdd.getNumPartitions,
      spark.sparkContext.defaultParallelism))
    // (rows, flag): per position the flag says the row leaves, per file
    // that a row matched twice
    val add = (a: (Long, Boolean), b: (Long, Boolean)) =>
      (a._1 + b._1, a._2 || b._2)
    val keyed = rows.filter(col("__file").isNotNull)
      .select(col("__file"), col("__pos"), leaves.getOrElse(lit(true))).rdd
      .map(r => ((r.getString(0), r.getLong(1)), (1L, r.getBoolean(2))))
    val perFile = (if (leaves.isEmpty) keyed else keyed.reduceByKey(add, parts))
      .map { case ((f, _), (n, l)) => (f, (if (l) 1L else 0L, n > 1)) }
      .reduceByKey(add, parts).collect()
    if (perFile.exists(_._2._2)) throw new IllegalStateException(
      "The same row was updated multiple times") // reference error text
    perFile.collect { case (f, (n, _)) if n > 0 => f -> n }.toMap
  }

  private def positionsOf(rows: DataFrame): DataFrame =
    rows.select(col("__file").as("file_path"), col("__pos").as("pos"))

  /** Delete `positions` (file_path, pos; `perFile` counts them per file,
    * inlined rows under [[Lake.InlinedFile]]) and register `newFiles` in
    * the same snapshot. */
  private def deleteByPosition(name: String, t: TableInfo, snap: Snapshot,
      positions: DataFrame, perFile0: Map[String, Long],
      newFiles: Seq[PendingDataFile] = Nil,
      newFilesPartitionId: Option[Long] = None): Long = {
    // inlined rows delete by ending their validity in the catalog DB —
    // in the SAME snapshot as the statement's file deletes / new files
    // (a DELETE spanning inlined + file rows is ONE commit like the
    // reference), so they thread into whichever commit happens below
    val inlinedIds =
      if (!perFile0.contains(InlinedFile)) Nil
      else positions.filter(col("file_path") === InlinedFile)
        .select("pos").collect().map(_.getLong(0)).toSeq
    if (inlinedIds.nonEmpty) txn.foreach { st =>
      // buffered: validity ends in the SAME catalog txn as the commit
      // (conflict-checked there); reads overlay the buffered ids
      st.inlinedDeletes.getOrElseUpdate(t.tableId,
        scala.collection.mutable.LinkedHashSet.empty[Long]) ++= inlinedIds
    }
    val endIds = if (txn.isEmpty) inlinedIds else Nil
    // rows flushed from inlined data earlier in this txn live in a file
    // the catalog does not know yet — a positional delete against it
    // cannot be registered; fail loudly instead of dropping the delete
    txn.foreach { st =>
      st.flushes.get(t.tableId).foreach { case (_, pf) =>
        if (perFile0.contains(pf.path))
          throw new UnsupportedOperationException(
            "cannot DELETE rows flushed from inlined data in the same " +
              "transaction — commit the flush first")
      }
    }
    // deletes hitting rows inserted by the SAME transaction rewrite the
    // staged (uncommitted) files in place — no delete file needed, the
    // rows simply never commit (reference transaction-local delete). The
    // positions are checkpointed, so the rewrite replacing the staged
    // files on disk cannot change them.
    val pending = txn.map(_.pendingPaths(t.tableId)).getOrElse(Set.empty)
    val hitCounts = perFile0.filter { case (p, _) => pending.contains(p) }
    val pendingDeleted =
      if (hitCounts.isEmpty) 0L
      else rewritePendingFiles(txn.get, t, name, hitCounts,
        positions.filter(col("file_path").isin(hitCounts.keys.toSeq: _*)))
    val perFile = perFile0 -- hitCounts.keys - InlinedFile
    val newDeletes = if (perFile.size == perFile0.size) positions
      else positions.filter(col("file_path").isin(perFile.keys.toSeq: _*))
    if (perFile.isEmpty && newFiles.isEmpty) {
      if (endIds.nonEmpty) meta.endInlinedRows(t.tableId, endIds): Unit
      return inlinedIds.size.toLong + pendingDeleted
    }
    if (perFile.isEmpty) {
      txn match {
        case Some(st) => st.appends += ((t.tableId, name, None, newFiles))
        case None => meta.appendFiles(t.tableId, newFiles,
          endInlinedRowIds = endIds): Unit
      }
      return inlinedIds.size.toLong + pendingDeleted
    }

    val files = meta.filesForScan(t.tableId, snap.snapshotId)
    val byRel = files.map(f => f.file.path -> f.file).toMap
    val affectedIds = perFile.keys.map(byRel(_).dataFileId).toSet
    val newlyDeleted = perFile.values.sum

    // deletion inlining (reference test/sql/deletion_inlining): a delete
    // at or under the data-inlining row limit lands as catalog rows — no
    // delete file written. The collect is bounded by the limit itself.
    val inlineLimit = optionFor(name, "data_inlining_row_limit")
      .map(_.toLong).getOrElse(0L)
    if (txn.isEmpty && newFiles.isEmpty && inlineLimit > 0 &&
        newlyDeleted <= inlineLimit) {
      val rows = newDeletes.select(col("file_path"), col("pos")).collect()
        .map(r => (byRel(r.getString(0)).dataFileId, r.getLong(1))).toSeq
      meta.appendInlinedDeletes(t.tableId, snap.snapshotId, rows,
        newlyDeleted, endInlinedRowIds = endIds)
      return newlyDeleted + inlinedIds.size + pendingDeleted
    }

    // union with previous live deletes for the affected files: each
    // file's ONE live delete file (one buffered earlier in the same
    // transaction supersedes the committed one) and its inlined delete
    // rows; the new delete FILE absorbs them at commit
    val bufPrev = txn.flatMap(_.deletes.get(t.tableId)).map(_._1)
      .getOrElse(scala.collection.mutable.LinkedHashMap
        .empty[Long, (String, Long, Long, String)])
    val prevEntries = (meta.liveDeleteFiles(t.tableId, snap.snapshotId,
      affectedIds) ++ bufPrev.collect { case (fid, (p, n, _, fmt))
        if affectedIds.contains(fid) => fid ->
        DeleteFileEntry(-1L, t.tableId, snap.snapshotId, None, fid, p, n, fmt)
      }).values.toSeq
    val relById = files.map(f => f.file.dataFileId -> f.file.path).toMap
    val prevInlined = meta.liveInlinedDeletes(t.tableId, snap.snapshotId)
      .collect { case (fid, pos) if affectedIds.contains(fid) =>
        (relById(fid), pos)
      }
    import spark.implicits._
    val prevRows = (deleteRowsDf(prevEntries, relById, exact = true).toSeq ++
      Option.when(prevInlined.nonEmpty)(prevInlined.toDF("file_path", "pos")))
      .reduceOption(_ unionByName _)
      // a delete file buffered in this transaction already absorbed the
      // committed inlined rows; outside one the sources are disjoint
      .map(rows => if (txn.isDefined) rows.distinct() else rows)
    // new positions were live in this statement's scan: disjoint from
    // every earlier delete, so the union needs no second distinct
    val all = prevRows.map(newDeletes.unionByName(_)).getOrElse(newDeletes)

    val (deletes, useDv) = writeDeleteArtifacts(name, all, perFile.size, byRel)
    txn match {
      case Some(st) => // buffer: supersedes earlier txn deletes per file
        val (m, removed) = st.deletes.getOrElse(t.tableId,
          (scala.collection.mutable.LinkedHashMap
            .empty[Long, (String, Long, Long, String)], 0L))
        deletes.foreach { case (fid, p, n, sz) =>
          m(fid) = (p, n, sz, if (useDv) "roaring" else "parquet")
        }
        st.deletes(t.tableId) = (m, removed + newlyDeleted)
        if (newFiles.nonEmpty)
          st.appends += ((t.tableId, name, newFilesPartitionId, newFiles))
      case None =>
        meta.commitDeletes(t.tableId, snap.snapshotId, deletes,
          format = if (useDv) "roaring" else "parquet",
          newFiles = newFiles, removedRows = newlyDeleted,
          newFilesPartitionId = newFilesPartitionId,
          endInlinedRowIds = endIds)
    }
    newlyDeleted + inlinedIds.size + pendingDeleted
  }

  /** Write delete artifacts for `all` (file_path, pos) rows. Both formats
    * are written EXECUTOR-side after ONE shuffle on file_path (positions
    * never funnel through a single task and never collect() to the driver
    * — a 10⁹-row bulk delete stays distributed; the driver only sees
    * (file, path, count, size) tuples, one per affected data file).
    * Reference: ducklake_delete.cpp:36-206. Returns the per-data-file
    * artifact tuples and whether the DV format was used. */
  private def writeDeleteArtifacts(name: String, all: DataFrame,
      nFilesHint: Int, byRel: Map[String, DataFileEntry])
      : (Seq[(Long, String, Long, Long)], Boolean) = {
    val useDv = meta.getOption("write_deletion_vectors").contains("true")
    val nParts = math.max(1, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.max(nFilesHint, 1)))
    // one part needs no shuffle: every position goes to the single task
    val shuffled = (if (nParts == 1) all.coalesce(1)
      else all.repartition(nParts, col("file_path")))
      .sortWithinPartitions("file_path", "pos")
    val deletes =
      if (useDv) {
        // one roaring DV blob per affected data file (reference
        // write_deletion_vectors option → puffin/roaring path), each
        // serialized and written by the task that owns its positions;
        // deletion_vector_format=puffin emits Iceberg-v3 Puffin files
        import spark.implicits._
        val lakeIo = io
        val tableDir = name
        val usePuffin =
          meta.getOption("deletion_vector_format").contains("puffin")
        val written = shuffled.as[(String, Long)].mapPartitions { it =>
          val out = scala.collection.mutable
            .ArrayBuffer.empty[(String, String, Long, Long)]
          var cur: String = null
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          def flush(): Unit = if (cur != null) {
            val bytes =
              if (usePuffin)
                DeletionVectors.serializePuffin(cur, buf.iterator)
              else DeletionVectors.serialize(buf.iterator)
            val ext = if (usePuffin) "puffin" else "bin"
            val dvRel = s"$tableDir/ducklake-dv-${UUID.randomUUID()}.$ext"
            lakeIo.write(dvRel, bytes)
            out += ((cur, dvRel, buf.size.toLong, bytes.length.toLong))
          }
          it.foreach { case (rel, pos) =>
            if (rel != cur) { flush(); cur = rel; buf.clear() }
            buf += pos
          }
          flush()
          out.iterator
        }.collect()
        written.toSeq.map { case (rel, dvRel, n, sz) =>
          (byRel(rel).dataFileId, dvRel, n, sz)
        }
      } else {
        // positional delete parquet, one part file per shuffle task (each
        // data file's positions wholly in one part, sorted (file, pos));
        // parts move to final names and map back to their data files
        val delStageRel = s"$name/delstage-${UUID.randomUUID()}"
        shuffled.write.options(cryptoOpts).parquet(io.abs(delStageRel))
        // (part file, data file, positions), counted back in one job
        val staged = pqRead.schema(all.schema).parquet(io.abs(delStageRel))
          .select(input_file_name(), col("file_path")).rdd
          .map(r => (r.getString(0), r.getString(1))).countByValue().toSeq
          .map { case ((part, data), n) => (new org.apache.hadoop.fs.Path(
            new java.net.URI(part)).toString, data, n) }
        val moved = staged.map(_._1).distinct.map { p =>
          val rel = s"$name/ducklake-delete-${UUID.randomUUID()}.parquet"
          io.move(p, rel)
          p -> ((rel, io.size(rel)))
        }.toMap
        io.deleteRecursively(delStageRel)
        staged.map { case (part, data, n) =>
          val (rel, size) = moved(part)
          (byRel(data).dataFileId, rel, n, size)
        }
      }
    (deletes, useDv)
  }

  /** Flush inlined-delete rows into real delete files (one per affected
    * data file, unioned with that file's live delete file if any) — the
    * deletion-side twin of flush_inlined_data; CHECKPOINT runs it. */
  def flushInlinedDeletes(name: String): Long = {
    require(txn.isEmpty, "flush_inlined_deletes inside a transaction")
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val inl = meta.liveInlinedDeletes(t.tableId, snap.snapshotId)
    if (inl.isEmpty) return 0L
    val files = meta.filesForScan(t.tableId, snap.snapshotId)
    val byRel = files.map(f => f.file.path -> f.file).toMap
    val relById = files.map(f => f.file.dataFileId -> f.file.path).toMap
    val affected = inl.map(_._1).toSet
    import spark.implicits._
    val inlDf = inl.map { case (fid, pos) => (relById(fid), pos) }
      .toDF("file_path", "pos")
    val prev = meta.liveDeleteFiles(t.tableId, snap.snapshotId, affected)
    val all = deleteRowsDf(prev.values.toSeq, relById)
      .map(inlDf.unionByName(_).distinct()).getOrElse(inlDf)
    val (artifacts, useDv) =
      writeDeleteArtifacts(name, all, affected.size, byRel)
    // commitDeletes absorbs (ends) the flushed inlined rows for the
    // touched data files in the same snapshot; rows were already counted
    // out of record_count when inlined, so removedRows = 0
    meta.commitDeletes(t.tableId, snap.snapshotId, artifacts,
      format = if (useDv) "roaring" else "parquet", removedRows = 0L)
    inl.size.toLong
  }

  /** DELETE hitting rows staged by the open transaction: rewrite those
    * staged files without the matched positions (all-rows-hit files are
    * simply dropped from the buffer). Returns rows removed. `hitCounts`
    * is bounded by the number of staged files; the positions arrive as
    * `hitRows` (the statement's checkpointed (file_path, pos) rows) and
    * are removed with a per-file distributed anti-join. */
  private def rewritePendingFiles(st: TxnState, t: TableInfo, name: String,
      hitCounts: Map[String, Long], hitRows: DataFrame): Long = {
    var removed = 0L
    val cols = columnsAt(t.tableId, st.base.snapshotId)
      .filter(_.parentColumn.isEmpty)
    st.appends.zipWithIndex.foreach {
      case ((tid, tname, pid, files), bi) =>
        if (tid == t.tableId &&
          files.exists(f => hitCounts.contains(f.path))) {
          val kept = files.flatMap { f =>
            hitCounts.get(f.path) match {
              case None => Some(f)
              case Some(nHits) =>
                removed += nHits
                val replacement =
                  if (nHits >= f.recordCount) None
                  else {
                    val rows = pqRead.parquet(abs(f.path))
                      .withColumn("__pos", col("_metadata.row_index"))
                      .join(hitRows.filter(col("file_path") === f.path)
                        .select(col("pos").as("__pos")),
                        Seq("__pos"), "left_anti")
                      .select(cols.map(c => col(c.name)): _*)
                    Some(writeAndCollect(name, rows.coalesce(1), cols)
                      .head.copy(
                      partitionValues = f.partitionValues,
                      mappingId = f.mappingId))
                  }
                io.delete(f.path)
                replacement
            }
          }
          st.appends(bi) = (tid, tname, pid, kept)
        }
    }
    removed
  }

  /** UPDATE = delete + insert in one snapshot; un-SET columns are
    * force-projected so complete rows are rewritten (reference
    * ducklake_update.cpp:220-333, update_is_del_and_insert). */
  def update(name: String, assignments: Map[String, Column],
      cond: Column): Long = {
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val updAllCols = columnsAt(t.tableId, snap.snapshotId)
    val cols = updAllCols.filter(_.parentColumn.isEmpty)
    val image = cols.map(c =>
      assignments.get(c.name)
        .map(_.cast(DuckLakeTypes.fromTypeString(c.typeString)).as(c.name))
        .getOrElse(col(c.name)))
    val matched = scan(name, snap, Some(cond), withMeta = true)
      .select(image ++ Seq(col("rowid").as("__rowid"),
        col("filename").as("__file"), col("file_row_number").as("__pos")): _*)
    val n = withMatched(matched, None) { (rows, perFile) =>
      val total = perFile.values.sum
      // small updates stay in the catalog: old versions become inlined
      // deletes, rewritten rows re-inline WITH their row ids — one
      // snapshot, no new parquet (reference
      // data_inlining_update_inline_verification.test)
      val updInlineLimit = optionFor(name, "data_inlining_row_limit")
        .map(_.toLong).getOrElse(0L)
      if (total == 0L) 0L
      else if (txn.isEmpty && total <= updInlineLimit) {
        val sample = rows.select(to_json(struct(cols.map(c => col(c.name)): _*))
          .as("j"), col("__rowid"), col("__file"), col("__pos")).collect().toSeq
        val (inl, fileRows) = sample.partition(_.getString(2) == InlinedFile)
        val byPath = meta.filesForScan(t.tableId, snap.snapshotId)
          .map(f => f.file.path -> f.file.dataFileId).toMap
        val dels = fileRows.map { r =>
          (byPath.getOrElse(r.getString(2), throw new IllegalStateException(
            s"matched row from unknown file ${r.getString(2)}")), r.getLong(3))
        }
        meta.inlineUpdate(t.tableId, snap.snapshotId, dels,
          inl.map(_.getLong(1)), sample.map(r => (r.getLong(1), r.getString(0))))
        total
      } else {
        // updated rows KEEP their row ids (reference ducklake_row_id_update
        // .test; DuckLakeUpdate materializes row_id into the insert,
        // ducklake_update.cpp:158-163): the rewrite file carries the
        // materialized rowid column, snapshot_id NULL → the scan serves the
        // file's own begin snapshot. Inside a transaction rowids of staged
        // rows are provisional, so the txn path keeps fresh ids.
        val preserveIds = txn.isEmpty
        val rewritten = rows.select(cols.map(c => col(c.name)) ++
          (if (preserveIds) Seq(col("__rowid").as(RowIdCol),
            lit(null).cast(LongType).as(SnapCol)) else Nil): _*)
        // rewritten rows re-partition under the live spec (reference
        // update_partitioning.test / update_partition_function.test): files
        // land in the right hive dirs WITH partition values, so post-UPDATE
        // queries keep pruning
        val updSpec = effectivePartitionSpec(t, snap.snapshotId)
        val newFiles = writeAndCollect(name, rewritten, cols,
          partition = updSpec.map(partitionPlan(_, cols)),
          allCols = updAllCols).map(f => f.copy(hasRowIds = preserveIds))
        deleteByPosition(name, t, snap, positionsOf(rows), perFile, newFiles,
          newFilesPartitionId = updSpec.map(_.partitionId))
      }
    }
    if (n > 0) maybeAutoRefresh(name)
    n
  }

  /** MERGE INTO (reference ducklake_merge_into.cpp:489-634): source vs
    * target on a key; at most one MATCHED update/delete (optionally gated
    * by `matchedCondition` — `WHEN MATCHED AND cond`), not-matched insert
    * (optionally gated by `notMatchedCondition`), and
    * `notMatchedBySourceDelete` (`WHEN NOT MATCHED BY SOURCE [AND cond]
    * THEN DELETE`). Conditions reference columns via the `t`/`s` aliases;
    * matched rows failing the condition are untouched. Errors if the same
    * target row matches twice (multi-update guard). */
  def merge(name: String, source: DataFrame, onKey: String,
      whenMatchedUpdate: Option[Map[String, Column]] = None,
      whenMatchedDelete: Boolean = false,
      whenNotMatchedInsert: Boolean = true,
      matchedCondition: Option[Column] = None,
      notMatchedCondition: Option[Column] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      notMatchedInsertValues: Option[Seq[(String, Column)]] = None): Long = {
    require(!(whenMatchedUpdate.isDefined && whenMatchedDelete),
      "at most one MATCHED action via this signature — use mergeMatched " +
        "for an ordered action list")
    val actions =
      whenMatchedUpdate.map(MatchedUpdate(_, matchedCondition)).toSeq ++
        (if (whenMatchedDelete) Seq(MatchedDelete(matchedCondition)) else Nil)
    mergeMatched(name, source, onKey, actions, whenNotMatchedInsert,
      notMatchedCondition, notMatchedBySourceDelete, notMatchedInsertValues)
  }

  /** MERGE with an ORDERED list of WHEN MATCHED clauses (reference binder
    * ducklake_merge_into.cpp:489-634 binds an action list; its test
    * config exercises one clause, the binder itself does not care). Per
    * matched row the FIRST clause whose AND-condition passes acts; rows
    * matching no clause are untouched. One snapshot, one source pass. */
  def mergeMatched(name: String, source: DataFrame, onKey: String,
      matchedActions: Seq[MatchedAction],
      whenNotMatchedInsert: Boolean = true,
      notMatchedCondition: Option[Column] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      notMatchedInsertValues: Option[Seq[(String, Column)]] = None): Long =
    mergeOn(name, source, Seq(onKey), matchedActions, whenNotMatchedInsert,
      notMatchedCondition, notMatchedBySourceDelete, notMatchedInsertValues)

  /** MERGE joined on a MULTI-column key (reference MERGE binds an
    * arbitrary ON condition; compound upsert keys are the
    * test_rewrite_partitioning.test shape). Returns the rows it affected
    * (updated + deleted + inserted), DuckDB's MERGE `Count`. */
  def mergeOn(name: String, source: DataFrame, onKeys: Seq[String],
      matchedActions: Seq[MatchedAction],
      whenNotMatchedInsert: Boolean,
      notMatchedCondition: Option[Column],
      notMatchedBySourceDelete: Option[Column],
      notMatchedInsertValues: Option[Seq[(String, Column)]]): Long = {
    require(onKeys.nonEmpty, "MERGE needs at least one ON key")
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val mrgAllCols = columnsAt(t.tableId, snap.snapshotId)
    val cols = mrgAllCols.filter(_.parentColumn.isEmpty)
    val unknown = notMatchedInsertValues.toSeq.flatten.map(_._1)
      .filterNot(n => cols.exists(_.name == n))
    require(unknown.isEmpty, s"unknown column(s) ${unknown.mkString(", ")}" +
      " in MERGE INSERT; table has " + cols.map(_.name).mkString(", "))
    // ONE join of source and target reads each side once: matched pairs,
    // plus source rows without a match when the MERGE inserts, plus
    // target rows without a match when it deletes by source. `__kind`
    // says which of the three a row is.
    val tgt = scan(name, snap, None, withMeta = true).alias("t")
    val src = source.withColumn("__src", lit(true)).alias("s")
    val onCond = onKeys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joinType = (whenNotMatchedInsert, notMatchedBySourceDelete.isDefined)
    match {
      case (true, true) => "full_outer"
      case (true, false) => "right_outer"
      case (false, true) => "left_outer"
      case (false, false) => "inner"
    }
    val (matched, notMatched, bySource) = (0, 1, 2)
    val kind = col("__kind")
    // first-match-wins clause selection: one CASE over the ordered
    // conditions picks each matched row's action index (-1 = no clause)
    val actIdx = matchedActions.zipWithIndex.foldRight(lit(-1)) {
      case ((a, i), acc) =>
        when(a.condition.getOrElse(lit(true)), lit(i)).otherwise(acc)
    }
    val updates = matchedActions.zipWithIndex.collect {
      case (u: MatchedUpdate, i) => (u, i)
    }
    // each kept row's image in the table's columns: a matched row under
    // ITS clause's assignments (per column, a CASE keyed on the action
    // index), a not-matched row as the inserted values (source columns by
    // name, or INSERT (a, b) VALUES (…) with table defaults elsewhere —
    // reference ducklake_merge_into.cpp per-action column-list binding)
    val image = cols.map { c =>
      val dt = DuckLakeTypes.fromTypeString(c.typeString)
      val upd = updates.foldRight(col(s"t.${c.name}").cast(dt)) {
        case ((u, i), acc) =>
          u.assignments.get(c.name)
            .map(v => when(col("__act") === i, v.cast(dt)).otherwise(acc))
            .getOrElse(acc)
      }
      val ins = notMatchedInsertValues match {
        case _ if !whenNotMatchedInsert => None
        case Some(vals) => Some(vals.toMap.get(c.name).map(_.cast(dt))
          .getOrElse(lit(c.defaultValue.orNull).cast(dt)))
        case None => Some(col(s"s.${c.name}").cast(dt))
      }
      ins.fold(upd)(when(kind === notMatched, _).otherwise(upd)).as(c.name)
    }
    val plan = tgt.join(src, onCond, joinType)
      .withColumn("__kind", when(col("s.__src").isNull, bySource)
        .when(col("t.filename").isNull, notMatched).otherwise(matched))
      .withColumn("__act", actIdx)
      .filter(kind === matched ||
        kind === notMatched && notMatchedCondition.getOrElse(lit(true)) ||
        kind === bySource && notMatchedBySourceDelete.getOrElse(lit(false)))
      .select(image ++ Seq(kind, col("__act"), col("t.rowid").as("__rowid"),
        col("t.filename").as("__file"),
        col("t.file_row_number").as("__pos")): _*)
    // rows leaving the table: matched rows claimed by ANY clause (updates
    // rewrite them, deletes remove them) + not-matched-by-source deletes
    val leaves = kind === matched && col("__act") >= 0 || kind === bySource
    // MERGE-updated rows keep their row ids like UPDATE (reference
    // ducklake_row_id_update.test exercises exactly this merged-update
    // shape); txn-staged rows have provisional ids, so keep fresh ones
    val preserveIds = txn.isEmpty
    val mrgSpec = effectivePartitionSpec(t, snap.snapshotId)
    def write(df: DataFrame) = writeAndCollect(name, df, cols,
      partition = mrgSpec.map(partitionPlan(_, cols)), allCols = mrgAllCols)
    val n = withMatched(plan, Some(leaves)) { (rows, perFile) =>
      val inserts = rows.filter(kind === notMatched)
        .select(cols.map(c => col(c.name)): _*)
      if (matchedActions.isEmpty && notMatchedBySourceDelete.isEmpty) {
        // insert-only MERGE is a plain append: small batches inline
        // below data_inlining_row_limit instead of writing parquet
        // (reference data_inlining_merge_insert_only.test) and
        // sort-on-insert applies
        if (whenNotMatchedInsert) insert(name, inserts) else 0L
      } else {
        // rewritten (rowid-materialized) and inserted (fresh-id) rows go
        // to SEPARATE files: one carries the materialized columns, the
        // other draws from row_id_start
        val updFiles =
          if (updates.isEmpty) Nil
          else write(rows
            .filter(kind === matched && col("__act").isin(updates.map(_._2): _*))
            .select(cols.map(c => col(c.name)) ++
              (if (preserveIds) Seq(col("__rowid").as(RowIdCol),
                lit(null).cast(LongType).as(SnapCol)) else Nil): _*))
            .map(_.copy(hasRowIds = preserveIds))
        val insFiles = if (whenNotMatchedInsert) write(inserts) else Nil
        deleteByPosition(name, t, snap, positionsOf(rows.filter(leaves)),
          perFile, updFiles ++ insFiles,
          newFilesPartitionId = mrgSpec.map(_.partitionId)) +
          insFiles.map(_.recordCount).sum
      }
    }
    maybeAutoRefresh(name)
    n
  }

  // ------------------------------------------------------------------- CDC

  /** Rows added in (startVersion, endVersion] (reference
    * ducklake_table_insertions.cpp:48-96). */
  def tableInsertions(name: String, startVersion: Long,
      endVersion: Long): DataFrame = {
    val t = resolve(name, Some(endVersion))
    val allCols = meta.columnsOf(t.tableId, endVersion)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    // only snapshots whose changes recorded an INSERT count: files born
    // in flush/compaction snapshots are rewrites of existing rows, not
    // new data (reference table_changes; data_inlining_flush.test —
    // "flushing inlined data has no changes")
    val insSnaps = meta.changeSnapshots(t.tableId, startVersion,
      endVersion, "tables_inserted_into")
    val files = meta.filesInsertedIn(t.tableId, startVersion, endVersion)
      .filter(f => insSnaps.contains(f.beginSnapshot))
      .map(f => ScanFile(f, Nil))
    val fromFiles = buildScan(t, allCols,
      files, Snapshot(endVersion, 0, 0, 0, 0), withMeta = true)
    // inlined rows created by insert/update snapshots join the feed
    val inl = meta.inlinedRowsCreatedIn(t.tableId, startVersion, endVersion)
      .filter { case (_, begin, _) => insSnaps.contains(begin) }
    if (inl.isEmpty) fromFiles
    else fromFiles.unionByName(
      inlinedDf(inl, toStruct(cols))
        .withColumn("filename", lit(InlinedFile))
        .withColumn("file_row_number", col("rowid"))
        .withColumn("file_index", lit(-1L))
        .select(fromFiles.columns.map(col).toSeq: _*))
  }

  /** Rows deleted in (startVersion, endVersion] — reads the delete files
    * created in range and resolves them to rows (reference
    * ducklake_multi_file_list.cpp:396-421). */
  def tableDeletions(name: String, startVersion: Long,
      endVersion: Long): DataFrame = {
    import spark.implicits._
    val t = resolve(name, Some(endVersion))
    val allCols = meta.columnsOf(t.tableId, endVersion)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val created = meta.deleteFilesCreatedIn(t.tableId, startVersion, endVersion)
    // inlined deletes created in range surface exactly like delete files
    // (flush-absorbed rows keep their ORIGINAL begin_snapshot, so a flush
    // in range does not re-report them: the flushed file's positions are
    // subtracted below as already-deleted-at-start or dup of range rows)
    val inlCreated =
      meta.inlinedDeletesCreatedIn(t.tableId, startVersion, endVersion)
    // inlined-DATA row versions ended by a deleting snapshot (a flush
    // ends rows too, but records no data change — excluded)
    val delSnaps = meta.changeSnapshots(t.tableId, startVersion,
      endVersion, "tables_deleted_from")
    val endedInl = meta.inlinedRowsEndedIn(t.tableId, startVersion,
      endVersion).filter { case (_, endSnap, _) => delSnaps.contains(endSnap) }
    val emptyOut = buildScan(t, allCols, Nil,
      Snapshot(endVersion, 0, 0, 0, 0), withMeta = true)
    // ended inlined rows render from their stored json; snapshot_id is
    // the DELETION snapshot (reference table_changes timestamps deletes
    // at the deleting snapshot)
    val endedDf =
      if (endedInl.isEmpty) None
      else Some(inlinedDf(endedInl, toStruct(cols))
        .withColumn("filename", lit(InlinedFile))
        .withColumn("file_row_number", col("rowid"))
        .withColumn("file_index", lit(-1L))
        .select(emptyOut.columns.map(col).toSeq: _*))
    if (created.isEmpty && inlCreated.isEmpty)
      return endedDf.fold(emptyOut)(emptyOut.unionByName)

    // rows deleted in range = positions in new delete files/inlined rows
    // MINUS positions already deleted at startVersion (delta of the union)
    val inlFiles = meta.dataFilesByIds(t.tableId, inlCreated.map(_._1).toSet)
    val dataFiles = (created.map(_._2) ++ inlFiles.values).distinct
    val full = dataFiles.map(f => ScanFile(f, Nil))
    val rows = buildScan(t, allCols, full,
      Snapshot(endVersion, 0, 0, 0, 0), withMeta = true)
    val relById = dataFiles.map(f => f.dataFileId -> f.path).toMap
    val inlRowsDf =
      if (inlCreated.isEmpty) None
      else Some(inlCreated.map { case (fid, pos, snapId) =>
        (relById(fid), pos, snapId)
      }.toDF("file_path", "pos", "del_snap"))
    // each position's deletion snapshot = the EARLIEST range delete
    // file containing it (later files absorb earlier ones)
    val delRows =
      (deleteRowsDf(created.map(_._1), relById, withSnap = true).toSeq ++ inlRowsDf)
        .reduce(_ unionByName _)
        .groupBy(col("file_path"), col("pos"))
        .agg(min(col("del_snap")).as("del_snap"))
    val prevIds = dataFiles.map(_.dataFileId).toSet
    val prevDeletes = meta.liveDeleteFiles(t.tableId, startVersion, prevIds)
    val prevInl = meta.liveInlinedDeletes(t.tableId, startVersion)
      .collect { case (fid, pos) if prevIds.contains(fid) =>
        (relById(fid), pos)
      }
    val prevInlDf =
      if (prevInl.isEmpty) None
      else Some(prevInl.toDF("file_path", "pos"))
    val prevRows =
      (deleteRowsDf(prevDeletes.values.toSeq, relById).toSeq ++ prevInlDf)
        .reduceOption(_ unionByName _)
        .map(_.select(col("file_path"), col("pos")))
    val delta = prevRows
      .map(p => delRows.join(p,
        delRows("file_path") === p("file_path") &&
          delRows("pos") === p("pos"), "left_anti"))
      .getOrElse(delRows)
    val joined = rows.join(delta,
      rows("filename") === delta("file_path") &&
        rows("file_row_number") === delta("pos"), "inner")
      .withColumn("snapshot_id", col("del_snap"))
      .select(rows.columns.map(col).toSeq: _*)
    endedDf.fold(joined)(joined.unionByName)
  }

  /** Union CDC feed with change_type + rowid + snapshot_id (reference
    * ducklake_table_changes, docs/README.md:86-96). A row deleted AND
    * re-inserted by the same snapshot is an UPDATE: the pair reports as
    * update_preimage / update_postimage like the reference (row ids are
    * preserved through UPDATE/MERGE, so the pairing is exact). */
  def tableChanges(name: String, startVersion: Long,
      endVersion: Long): DataFrame = {
    val all = tableInsertions(name, startVersion, endVersion)
      .withColumn("change_type", lit("insert"))
      .unionByName(
        tableDeletions(name, startVersion, endVersion)
          .withColumn("change_type", lit("delete")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rowid"), col("snapshot_id"))
    all
      .withColumn("__pair", count(lit(1)).over(w))
      .withColumn("change_type",
        when(col("__pair") > 1,
          when(col("change_type") === "insert", lit("update_postimage"))
            .otherwise(lit("update_preimage")))
          .otherwise(col("change_type")))
      .drop("__pair")
  }

  // ----------------------------------------------------------- maintenance

  /** Greedy compaction of adjacent small files toward target size; the
    * merged file materializes rowid + insertion snapshot columns so row
    * identity and CDC survive (reference
    * ducklake_compaction_functions.cpp:289-400,548-602).
    *
    * `maxCompactedFiles` caps the number of merge OPERATIONS this run
    * performs (reference merge_adjacent_max_files.test,
    * ducklake_compaction_functions.cpp:797-804) — incremental compaction
    * for bounded maintenance windows: at 100 TB you compact a few groups
    * per run instead of rewriting the whole table's small-file backlog
    * in one snapshot. */
  def mergeAdjacentFiles(name: String,
      targetFileSize: Long = 512L * 1024 * 1024,
      maxCompactedFiles: Option[Int] = None): Int = {
    maxCompactedFiles.foreach(m => require(m > 0,
      "The max_compacted_files option must be greater than zero."))
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val allCols = meta.columnsOf(t.tableId, snap.snapshotId)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val files = meta.filesForScan(t.tableId, snap.snapshotId)
    // only files of the SAME partition merge (reference "same partition"
    // constraint, ducklake_compaction_functions.cpp:289-400) — so the
    // merged file keeps its partition values and stays prunable
    val partVals = meta.filePartitionValues(t.tableId)
    val byPartition = files.groupBy(f =>
      (f.file.partitionId, partVals.getOrElse(f.file.dataFileId, Nil)))
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(Option[Long], Seq[(Long, String)], Seq[ScanFile])]
    byPartition.toSeq.sortBy(_._2.head.file.dataFileId).foreach {
      case ((pid, pv), pFiles) =>
        // greedy adjacent grouping, stop before exceeding target
        var cur = scala.collection.mutable.ArrayBuffer.empty[ScanFile]
        var curSize = 0L
        pFiles.foreach { f =>
          if (cur.nonEmpty &&
            curSize + f.file.fileSizeBytes > targetFileSize) {
            if (cur.size > 1) groups += ((pid, pv, cur.toSeq))
            cur = scala.collection.mutable.ArrayBuffer.empty[ScanFile]
            curSize = 0L
          }
          cur += f
          curSize += f.file.fileSizeBytes
        }
        if (cur.size > 1) groups += ((pid, pv, cur.toSeq))
    }

    // sorted tables re-sort on compaction: the merged file restores the
    // table's sort order even when inputs interleave (reference
    // merge_adjacent_sorted family). Inlined deletes apply like the scan.
    val sortSpec = effectiveSortSpec(t.tableId, snap.snapshotId)
    val limited = maxCompactedFiles match {
      case Some(m) => groups.take(m)
      case None => groups
    }
    limited.foreach { case (pid, pv, group) =>
      val rows = buildScan(t, allCols, group, snap, withMeta = true,
        inlinedDeletes = meta.liveInlinedDeletes(t.tableId, snap.snapshotId))
        .select((cols.map(c => col(c.name)) :+
          col("rowid").as(RowIdCol) :+
          col("snapshot_id").as(SnapCol)): _*)
      val one = rows.coalesce(1)
      val shaped =
        if (sortSpec.isEmpty) one
        else one.sortWithinPartitions(
          sortSpec.map((sortKey _).tupled): _*)
      // the sortWithinPartitions above runs on the already-coalesced single
      // partition, so the one merged file is genuinely in spec order —
      // compaction is the path that RESTORES writtenSorted after updates
      val statsFiles = writeAndCollect(name, shaped, cols, allCols = allCols)
        .head.copy(partitionValues = pv, hasRowIds = true,
          writtenSorted = sortSpec.nonEmpty)
      meta.commitCompaction(t.tableId, group.map(_.file.dataFileId),
        statsFiles, group.head.file.rowIdStart,
        removedRows = 0L, // physically-dropped rows were already counted
                          // out of record_count when their delete committed
        partitionId = pid,
        // deletes landing on the inputs since planning must conflict,
        // or installing the merged file would resurrect their rows
        baseSnapshot = Some(snap.snapshotId))
    }
    limited.size
  }

  /** Rewrite files whose deleted fraction ≥ threshold, dropping dead rows
    * (reference rewrite_data_files, default 0.95,
    * ducklake_compaction_functions.cpp:769-783). */
  def rewriteDataFiles(name: String, deleteThreshold: Double = 0.95,
      maxCompactedFiles: Option[Int] = None): Int = {
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    val allCols = meta.columnsOf(t.tableId, snap.snapshotId)
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val files = meta.filesForScan(t.tableId, snap.snapshotId)
    // inlined deletes count toward the threshold like delete files
    val inlByFile = meta.liveInlinedDeletes(t.tableId, snap.snapshotId)
      .groupBy(_._1).map { case (fid, ps) => fid -> ps.size.toLong }
    def deletedOf(f: ScanFile): Long =
      f.deleteFiles.map(_.deleteCount).max0 +
        inlByFile.getOrElse(f.file.dataFileId, 0L)
    // max_compacted_files bounds the work of one call (reference
    // test_rewrite_max_files.test: remaining candidates wait for the
    // next invocation)
    val candidates0 = files.filter { f =>
      f.file.recordCount > 0 &&
        deletedOf(f).toDouble / f.file.recordCount >= deleteThreshold
    }
    val candidates = maxCompactedFiles match {
      case Some(m) => candidates0.take(m)
      case None => candidates0
    }
    val (fullyDead, partial) = candidates.partition { f =>
      deletedOf(f) >= f.file.recordCount
    }
    if (fullyDead.nonEmpty)
      meta.commitDropFiles(t.tableId, fullyDead.map(_.file.dataFileId))
    val partVals = meta.filePartitionValues(t.tableId)
    partial.foreach { f =>
      // inlined deletes apply too — commitCompaction ends their rows, so
      // the rewrite must drop them or they would resurrect
      val rows = buildScan(t, allCols, Seq(f), snap, withMeta = true,
        inlinedDeletes = meta.liveInlinedDeletes(t.tableId, snap.snapshotId))
        .select((cols.map(c => col(c.name)) :+
          col("rowid").as(RowIdCol) :+ col("snapshot_id").as(SnapCol)): _*)
      val stats = writeAndCollect(name, rows.coalesce(1), cols,
        allCols = allCols).head.copy(partitionValues =
          partVals.getOrElse(f.file.dataFileId, Nil), hasRowIds = true)
      meta.commitCompaction(t.tableId, Seq(f.file.dataFileId), stats,
        f.file.rowIdStart,
        removedRows = 0L, // table row count already reflects the deletes
        partitionId = f.file.partitionId,
        baseSnapshot = Some(snap.snapshotId))
    }
    candidates.size
  }

  private implicit class MaxOps(s: Seq[Long]) {
    def max0: Long = if (s.isEmpty) 0L else s.max
  }

  /** Per-file stats over table columns in ONE aggregation job; `srcNames`
    * (columnId → parquet column name) redirects to foreign names for
    * name-mapped files — columns absent from the file record all-NULL
    * stats. */
  private def statsFor(relPath: String, cols: Seq[ColumnInfo],
      srcNames: Map[Long, String] = Map.empty,
      allCols: Seq[ColumnInfo] = Nil,
      hiveConsts: Seq[(Long, Option[String])] = Nil): PendingDataFile = {
    // hive-served columns (add_data_files hive_partitioning) are a
    // per-file constant: aggregate over an injected literal column so
    // their min=max=value stats ride the same single pass (reference
    // MapColumnStats hive loop, ducklake_add_data_files.cpp:1119-1146)
    val hiveById = hiveConsts.toMap
    val df = hiveConsts.foldLeft(pqRead.parquet(abs(relPath))) {
      case (d, (cid, v)) =>
        val ci = cols.find(_.columnId == cid).get
        d.withColumn(s"__hive_$cid",
          lit(v.orNull).cast(DuckLakeTypes.fromTypeString(ci.typeString)))
    }
    // nested geometry/leaf stats only for same-named layouts (name-mapped
    // foreign files would need per-field path mapping)
    val pass = statsPass(if (srcNames.isEmpty) allCols else Nil, cols, c =>
      if (hiveById.contains(c.columnId)) Some(s"__hive_${c.columnId}")
      else if (srcNames.isEmpty) Some(c.name)
      else srcNames.get(c.columnId), Nil)
    val (rows, stats, _) = pass.decode(pass.prepare(df)
      .agg(pass.aggs.head, pass.aggs.tail: _*).collect()(0))
    PendingDataFile(relPath, rows, io.size(relPath), stats)
  }

  /** One aggregation pass of per-file stats over a frame whose `srcOf(c)`
    * column holds table column c (None: absent, all NULL): `prepare`
    * adds the geometry extents (each WKB parsed once, reference
    * DuckLakeColumnGeoStats), `aggs` aggregate, and `decode` turns a
    * result row into (rows, column stats, shredded variant path stats).
    * Nested geometry and scalar leaves (struct fields, list elements,
    * map keys/values) of `allCols` get per-leaf stats in the same pass. */
  private case class StatsPass(prepare: DataFrame => DataFrame,
      aggs: Seq[Column], decode: org.apache.spark.sql.Row =>
        (Long, Seq[FileColumnStats], Seq[VariantPathStats]))

  private def statsPass(allCols: Seq[ColumnInfo], cols: Seq[ColumnInfo],
      srcOf: ColumnInfo => Option[String],
      shredded: Seq[(ColumnInfo, String, DataType)]): StatsPass = {
    def isGeo(c: ColumnInfo) = c.typeString == "geometry"
    def isFloat(dt: DataType) = dt == DoubleType || dt == FloatType
    val geoCols = cols.filter(c => isGeo(c) && srcOf(c).isDefined)
    val nestedGeo = nestedGeoSpecs(allCols)
    val nestedLeaves = nestedLeafSpecs(allCols)
    def prepare(df: DataFrame) = nestedGeo.foldLeft(geoCols.foldLeft(df)(
      (d, c) => d.withColumn(s"__geo_${c.columnId}",
        graft.functions.GeoFunctions.geoExtent(col(srcOf(c).get))))) {
      case (d, (ci, ex)) => d.withColumn(s"__ngeo_${ci.columnId}", ex)
    }
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap { c =>
      val dt = DuckLakeTypes.fromTypeString(c.typeString)
      srcOf(c).toSeq.flatMap { src =>
        val v = col(src).cast(dt)
        val cnt = count(col(src)).as(s"cnt_${c.columnId}")
        if (isGeo(c)) graft.functions.GeoStatsAgg.aggs(
          col(s"__geo_${c.columnId}"), c.columnId.toString) :+ cnt
        else if (!StatsCodec.statsSupported(dt)) Seq(cnt)
        else Seq(min(v).as(s"min_${c.columnId}"),
          max(v).as(s"max_${c.columnId}"), cnt) ++ Option.when(isFloat(dt))(
          sum(when(isnan(v), 1L).otherwise(0L)).as(s"nan_${c.columnId}"))
      }
    } ++ nestedGeo.flatMap { case (ci, _) =>
      graft.functions.GeoStatsAgg.aggs(
        col(s"__ngeo_${ci.columnId}"), s"n${ci.columnId}") :+
        count(col(s"__ngeo_${ci.columnId}")).as(s"ncnt_${ci.columnId}")
    } ++ shredded.zipWithIndex.flatMap { case ((ci, path, dt), i) =>
      val g = variant_get(col(ci.name), path, dt.sql)
      Seq(min(g).as(s"vmin_$i"), max(g).as(s"vmax_$i"),
        count(g).as(s"vcnt_$i"))
    } ++ nestedLeaves.flatMap((nestedLeafAggs _).tupled)
    def decode(r: org.apache.spark.sql.Row) = {
      val rows = r.getAs[Long]("__rows")
      def nulls(key: String) = rows - r.getAs[Long](key)
      val stats = cols.map { c =>
        val dt = DuckLakeTypes.fromTypeString(c.typeString)
        val id = c.columnId
        if (srcOf(c).isEmpty) FileColumnStats(id, None, None, rows)
        else if (isGeo(c)) FileColumnStats(id, None, None, nulls(s"cnt_$id"),
          extraStats = graft.functions.GeoStatsAgg.fromRow(r, id.toString))
        else if (!StatsCodec.statsSupported(dt))
          FileColumnStats(id, None, None, nulls(s"cnt_$id"))
        else FileColumnStats(id,
          StatsCodec.encode(r.getAs[Any](s"min_$id"), dt),
          StatsCodec.encode(r.getAs[Any](s"max_$id"), dt), nulls(s"cnt_$id"),
          if (isFloat(dt)) r.getAs[Long](s"nan_$id") else 0L,
          numeric = StatsCodec.isNumeric(dt))
      }
      // nested geometry leaves: extent JSON under the leaf's own column
      // id ("nulls" = rows with no parsable geometry on the path)
      val nested = nestedGeo.map { case (ci, _) =>
        FileColumnStats(ci.columnId, None, None, nulls(s"ncnt_${ci.columnId}"),
          extraStats = graft.functions.GeoStatsAgg.fromRow(
            r, s"n${ci.columnId}"))
      } ++ nestedLeaves.map { case (ci, _, _) => nestedLeafStats(r, rows, ci) }
      val varStats = shredded.zipWithIndex.map { case ((ci, path, dt), i) =>
        VariantPathStats(ci.columnId, path,
          StatsCodec.encode(r.getAs[Any](s"vmin_$i"), dt),
          StatsCodec.encode(r.getAs[Any](s"vmax_$i"), dt),
          nulls(s"vcnt_$i"), numeric = StatsCodec.isNumeric(dt),
          shreddedType = Some(DuckLakeTypes.toTypeString(dt)))
      }
      (rows, stats ++ nested, varStats)
    }
    StatsPass(prepare, aggs, decode)
  }

  def expireSnapshots(olderThanMs: Option[Long] = None,
      versions: Seq[Long] = Nil): Seq[Long] =
    meta.expireSnapshots(olderThanMs, versions)

  /** Physically delete files scheduled for deletion (reference
    * ducklake_cleanup_old_files). Returns deleted paths. */
  def cleanupOldFiles(olderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    // delete_older_than option supplies the default age bound (reference
    // ducklake_set_option.cpp)
    val bound = olderThanMs.orElse(
      meta.getOption("delete_older_than").map(_.toLong)
        .map(System.currentTimeMillis() - _))
    val paths = meta.takeScheduledDeletions(bound)
    if (!dryRun) paths.foreach(p => io.delete(p))
    paths
  }

  /** Delete files on disk that the catalog does not know about (reference
    * ducklake_delete_orphaned_files). */
  def deleteOrphanedFiles(name: String, dryRun: Boolean = false): Seq[String] = {
    resolve(name, Some(meta.currentSnapshot().snapshotId)): Unit
    // known = every path ANY snapshot references (data + delete files,
    // historical rows included — they serve time travel until expired)
    // plus files already queued for cleanup_old_files. Only files outside
    // this set are orphans (reference GetKnownFilesForCleanupQuery:
    // no snapshot filter, both file tables, scheduled deletions).
    val known = meta.knownFilePaths()
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    io.listRecursive(name).foreach { rel =>
      val cleanable = rel.endsWith(".parquet") ||
        rel.endsWith(".puffin") || rel.endsWith(".bin")
      if (cleanable && !known.contains(rel)) {
        out += rel
        if (!dryRun) io.delete(rel)
      }
    }
    out.toSeq
  }

  /** CHECKPOINT pipeline in the reference's order: flush-inlined → expire
    * → merge-adjacent → rewrite → cleanup (reference
    * ducklake_checkpoint.cpp:14-35); expiry bound and rewrite threshold
    * come from the expire_older_than / rewrite_delete_threshold options
    * when not given explicitly. */
  def checkpoint(name: String,
      expireOlderThanMs: Option[Long] = None): Unit = {
    flushInlinedData(name)
    flushInlinedDeletes(name): Unit
    val expireMs = expireOlderThanMs.orElse(
      meta.getOption("expire_older_than").map(_.toLong)
        .map(System.currentTimeMillis() - _))
    expireMs.foreach(ms => expireSnapshots(Some(ms)))
    val target = meta.getOption("target_file_size").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    mergeAdjacentFiles(name, target)
    rewriteDataFiles(name,
      meta.getOption("rewrite_delete_threshold").map(_.toDouble)
        .getOrElse(0.95))
    cleanupOldFiles(None)
  }

  // ------------------------------------------------- metadata introspection

  /** snapshots() table function (reference base_metadata_function.cpp:38-59). */
  def snapshots(): DataFrame = {
    import spark.implicits._
    meta.allSnapshots().map { case (s, ch, author, msg, extra) =>
      (s.snapshotId, new java.sql.Timestamp(s.snapshotTimeMs),
        s.schemaVersion, ch.getOrElse(""), author.orNull,
        msg.orNull, extra.orNull)
    }.toDF("snapshot_id", "snapshot_time", "schema_version", "changes",
      "author", "commit_message", "commit_extra_info")
  }

  /** Metadata query logging (reference ducklake_metadata_logging.test:
    * enable_logging('DuckLakeMetadata') + duckdb_logs_parsed): when
    * enabled, every catalog SQL statement records (timestamp, catalog,
    * query, elapsed). Surface: `CALL enable_logging()` / `CALL
    * disable_logging()` and `FROM metadata_log()` in lake.sql. */
  def enableMetadataLogging(): Unit = meta.loggingEnabled = true
  def disableMetadataLogging(): Unit = {
    meta.loggingEnabled = false
    meta.clearQueryLog()
  }
  def metadataLog(): DataFrame = {
    import spark.implicits._
    meta.queryLogSnapshot().map { case (ts, sql, us) =>
      (new java.sql.Timestamp(ts), meta.jdbcUrl, sql, us / 1000.0)
    }.toDF("log_ts", "catalog", "query", "elapsed_ms")
  }

  def currentSnapshotId(): Long = meta.currentSnapshot().snapshotId

  /** Whether this handle has an open multi-statement transaction. */
  def inTransaction: Boolean = txn.isDefined

  /** ducklake_last_committed_snapshot: with the single-transaction commit
    * pipeline this equals the current snapshot (an open buffered
    * transaction has not touched the catalog yet). */
  def lastCommittedSnapshotId(): Long = currentSnapshotId()

  /** Cumulative per-column table stats (reference
    * ducklake_table_column_stats via the stats surface). */
  def tableColumnStats(name: String): DataFrame = {
    import spark.implicits._
    val t = resolve(name)
    val cols = meta.columnsOf(t.tableId, meta.currentSnapshot().snapshotId)
    // nested leaves surface under their dotted path (info.g, pts.element)
    val byId = cols.map(c => c.columnId -> columnPath(cols, c)).toMap
    meta.tableColumnStats(t.tableId).map {
      case (cid, nul, nan, mn, mx, extra) =>
        (byId.getOrElse(cid, cid.toString), nul, nan,
          mn.orNull, mx.orNull, extra.orNull)
    }.toDF("column_name", "contains_null", "contains_nan",
      "min_value", "max_value", "extra_stats")
  }

  /** ducklake_settings(): every known option with its current value and
    * default (reference ducklake_settings.cpp); set options not in the
    * known list are included too. */
  def settings(): DataFrame = {
    import spark.implicits._
    val known = Seq(
      "data_inlining_row_limit" -> "0",
      "sort_on_insert" -> "true",
      "auto_compact" -> "false",
      "target_file_size" -> (512L * 1024 * 1024).toString,
      "rewrite_delete_threshold" -> "0.95",
      "expire_older_than" -> "",
      "delete_older_than" -> "",
      "require_commit_message" -> "false",
      "write_deletion_vectors" -> "false",
      "encrypted" -> "false",
      "parquet_compression" -> "snappy",
      "parquet_compression_level" -> "",
      "parquet_row_group_size_bytes" -> "")
    val set = options().toMap
    val rows = known.map { case (k, d) =>
      (k, set.getOrElse(k, d), d)
    } ++ set.view.filterKeys(k => !known.exists(_._1 == k)).toSeq
      .map { case (k, v) => (k, v, "") }
    rows.toDF("setting", "value", "default_value")
  }

  /** table_info() (reference ducklake_table_info.cpp). */
  def tableInfo(): DataFrame = {
    import spark.implicits._
    val snap = meta.currentSnapshot()
    meta.listTables(snap.snapshotId).map { t =>
      val stats = meta.tableStats(t.tableId)
      val files = meta.filesForScan(t.tableId, snap.snapshotId)
      (t.name, t.tableId, files.size.toLong,
        files.map(_.file.fileSizeBytes).sum,
        files.flatMap(_.deleteFiles).size.toLong,
        stats.map(_.recordCount).getOrElse(0L))
    }.toDF("table_name", "table_id", "file_count", "file_size_bytes",
      "delete_file_count", "record_count")
  }

  /** PRAGMA database_size (reference general/database_size.test): total
    * bytes of live data + delete files from catalog metadata alone — no
    * storage listing. */
  def databaseSize(): DataFrame = {
    import spark.implicits._
    val snap = meta.currentSnapshot()
    val sizes = meta.listTables(snap.snapshotId).map { t =>
      meta.filesForScan(t.tableId, snap.snapshotId)
        .map(_.file.fileSizeBytes).sum
    }
    Seq(("ducklake", sizes.sum, sizes.size.toLong))
      .toDF("database_name", "database_size", "table_count")
  }

  /** Total live data bytes of one table from catalog metadata alone —
    * driver-side, no storage listing, no Spark job. Serves the
    * boundedBroadcast size estimates (QueryDsl): the catalog already
    * tracks every data file's size, so a query can gate a broadcast hint
    * on the REAL footprint of its bounding table instead of the
    * optimizer's propagated estimate. */
  def tableSizeBytes(name: String): Long = {
    val sid = meta.currentSnapshot().snapshotId
    val t = resolve(name, Some(sid))
    meta.filesForScan(t.tableId, sid).map(_.file.fileSizeBytes).sum
  }

  /** list_files() (reference ducklake_list_files.cpp:65-113). */
  def listFiles(name: String, version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val sid = version.getOrElse(meta.currentSnapshot().snapshotId)
    val t = resolve(name, Some(sid))
    meta.filesForScan(t.tableId, sid).map { f =>
      (f.file.path, f.file.recordCount, f.file.fileSizeBytes,
        f.file.rowIdStart, f.deleteFiles.map(_.path).mkString(","))
    }.toDF("data_file", "record_count", "file_size_bytes", "row_id_start",
      "delete_files")
  }

  // -------------------------------------------------- foreign file import

  /** `key=value` directory segments of a file path, lowercased key → raw
    * (unescaped) value; `__HIVE_DEFAULT_PARTITION__` stands for NULL.
    * Later segments win on duplicate keys like DuckDB's
    * HivePartitioning::Parse. */
  private def parseHiveSegments(path: String): Map[String, String] = {
    val segs = new org.apache.hadoop.fs.Path(path).toUri.getPath.split('/')
    segs.dropRight(1).iterator.filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i).toLowerCase -> unescapeHive(seg.substring(i + 1))
    }.toMap
  }

  /** Driver-side try-cast of a hive partition string; None = not castable
    * (reference MapHiveColumn's DefaultTryCastAs check). */
  private def tryCastHive(v: String, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val c = Cast(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType),
      dt, zone, EvalMode.TRY)
    Option(c.eval(null))
  }

  /** Hive key name a non-identity partition transform publishes (reference
    * DuckLakePartitionUtils::GetPartitionKeyName): bare `year`/`month`/…,
    * falling back to `year_<col>` (then `_2`, `_3`…) on collisions. */
  private def partitionKeyName(transform: String, fieldName: String,
      used: Set[String]): String = {
    val prefix =
      if (transform == "identity") fieldName
      else transform.takeWhile(_ != '(')
    if (!used(prefix)) prefix
    else {
      val base = s"${prefix}_$fieldName"
      if (!used(base)) base
      else Iterator.from(2).map(i => s"${base}_$i").find(!used(_)).get
    }
  }

  private def intRank(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => 99
  }

  /** Type compatibility of a foreign parquet column against the table
    * column (reference DuckLakeParquetTypeChecker,
    * ducklake_add_data_files.cpp:718-886): signed/unsigned integer and
    * float widening, decimal precision/scale widening, exact match for
    * everything else; nested types recurse with missing/extra-field
    * handling. Unsigned and timestamp flavors compare in Spark's promoted
    * space (parquet signedness/unit is lost through Spark's reader).
    * Throws reference-shaped errors on mismatch. */
  private def checkAddType(colPath: String, fdt: DataType, tdt: DataType,
      flavor: Option[String], p: String, tableName: String,
      allowMissing: Boolean, ignoreExtra: Boolean): Unit = {
    def fail(expected: String): Nothing = throw new IllegalArgumentException(
      s"""Failed to map column "$colPath" from file "$p" to the column """ +
        s"""in table "$tableName"""" +
        s"\n* Expected $expected but found type ${fdt.sql}")
    def okScalar(f: DataType, t: DataType): Boolean = flavor match {
      case Some("int8") => f == ByteType
      case Some("int16") => intRank(f) <= 2
      case Some("int32") => intRank(f) <= 3
      case Some("int64") => intRank(f) <= 4
      case Some("uint8") => f == ShortType
      case Some("uint16") => f == ShortType || f == IntegerType
      case Some("uint32") => intRank(f) >= 2 && intRank(f) <= 4
      case Some("uint64") =>
        (intRank(f) >= 2 && intRank(f) <= 4) || f == DecimalType(20, 0)
      case Some("float32") => f == FloatType
      case Some("float64") => f == FloatType || f == DoubleType
      case Some("timestamptz") => f == TimestampType
      case Some(ts) if ts.startsWith("timestamp") => f == TimestampNTZType
      case _ => t match {
        case ByteType | ShortType | IntegerType | LongType =>
          intRank(f) <= intRank(t)
        case DoubleType => f == FloatType || f == DoubleType
        case FloatType => f == FloatType
        case dec: DecimalType => f match {
          case fd: DecimalType =>
            fd.precision <= dec.precision && fd.scale <= dec.scale
          case _ => false
        }
        case _ => f == t
      }
    }
    (fdt, tdt) match {
      case (f: StructType, t: StructType) =>
        val byLower = f.fields.map(x => x.name.toLowerCase -> x).toMap
        t.fields.foreach { tf =>
          byLower.get(tf.name.toLowerCase) match {
            case Some(ff) => checkAddType(s"$colPath.${tf.name}",
              ff.dataType, tf.dataType, None, p, tableName,
              allowMissing, ignoreExtra)
            case None if allowMissing => ()
            case None => throw new IllegalArgumentException(
              s"""Column "$colPath.${tf.name}" exists in table """ +
                s""""$tableName" but was not found in file "$p"""" +
                "\n* Set allow_missing => true to allow missing fields " +
                "and columns")
          }
        }
        val known = t.fields.map(_.name.toLowerCase).toSet
        f.fields.filterNot(ff => known(ff.name.toLowerCase)).foreach { ff =>
          if (!ignoreExtra) throw new IllegalArgumentException(
            s"""Column "$colPath.${ff.name}" exists in file "$p" but """ +
              s"""was not found in table "$tableName"""" +
              "\n* Set ignore_extra_columns => true to add the file anyway")
        }
      case (f: ArrayType, t: ArrayType) =>
        checkAddType(s"$colPath.element", f.elementType, t.elementType,
          None, p, tableName, allowMissing, ignoreExtra)
      case (f: MapType, t: MapType) =>
        checkAddType(s"$colPath.key", f.keyType, t.keyType, None, p,
          tableName, allowMissing, ignoreExtra)
        checkAddType(s"$colPath.value", f.valueType, t.valueType, None, p,
          tableName, allowMissing, ignoreExtra)
      case (f, t) =>
        if (!okScalar(f, t)) fail(
          s"""type "${flavor.map(_.toUpperCase).getOrElse(t.sql)}"""")
    }
  }

  /** Read a foreign file's (possibly narrower / field-incomplete) value
    * as the table's type: nested struct children map case-insensitively
    * BY NAME, absent nested fields read NULL (reference MapColumns
    * recursion + allow_missing), leaves cast. When shapes already agree
    * this is a plain cast, which whole-stage codegen elides. */
  private def conformValue(src: Column, fdt: DataType, tdt: DataType): Column =
    (fdt, tdt) match {
      case (f, t) if sameShape(f, t) => src.cast(t)
      case (f: StructType, t: StructType) =>
        val byLower = f.fields.map(x => x.name.toLowerCase -> x).toMap
        val rebuilt = struct(t.fields.toSeq.map { tf =>
          byLower.get(tf.name.toLowerCase) match {
            case Some(ff) => conformValue(src.getField(ff.name),
              ff.dataType, tf.dataType).as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }: _*)
        when(src.isNull, lit(null).cast(t)).otherwise(rebuilt)
      case (f: ArrayType, t: ArrayType) =>
        transform(src, x => conformValue(x, f.elementType, t.elementType))
      case (f: MapType, t: MapType) =>
        transform_values(
          transform_keys(src,
            (k, _) => conformValue(k, f.keyType, t.keyType)),
          (_, v) => conformValue(v, f.valueType, t.valueType))
      case (_, t) => src.cast(t)
    }

  /** same field names and arity all the way down → plain cast suffices */
  private def sameShape(f: DataType, t: DataType): Boolean = (f, t) match {
    case (a: StructType, b: StructType) =>
      a.fields.length == b.fields.length &&
        a.fields.zip(b.fields).forall { case (x, y) =>
          x.name == y.name && sameShape(x.dataType, y.dataType)
        }
    case (a: ArrayType, b: ArrayType) =>
      sameShape(a.elementType, b.elementType)
    case (a: MapType, b: MapType) =>
      sameShape(a.keyType, b.keyType) && sameShape(a.valueType, b.valueType)
    case _ => true
  }

  private def hasGlob(p: String): Boolean =
    p.exists(c => "*?[{".indexOf(c.toInt) >= 0)

  /** `*`/`**`/`?`/`[…]` glob → regex over the scheme-less path */
  private def globToRegex(g: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' if i + 1 < g.length && g.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 2
        case '*' => sb.append("[^/]*"); i += 1
        case '?' => sb.append("[^/]"); i += 1
        case '[' =>
          val j = g.indexOf(']', i)
          if (j < 0) { sb.append("\\["); i += 1 }
          else { sb.append(g.substring(i, j + 1)); i = j + 1 }
        case c =>
          sb.append(java.util.regex.Pattern.quote(c.toString)); i += 1
      }
    }
    sb.result()
  }

  /** Expand glob patterns (incl. `**`) against the filesystem and
    * deduplicate equivalent spellings of the same path (reference
    * add_files_overlapping_globs + add_files_equivalent_path_duplicate:
    * `dir/./f.parquet` and `dir/f.parquet` register once). */
  private def expandForeignPaths(paths: Seq[String]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val expanded = paths.flatMap { p =>
      if (!hasGlob(p)) Seq(p)
      else {
        import org.apache.hadoop.fs.Path
        val gi = p.indexWhere(c => "*?[{".indexOf(c.toInt) >= 0)
        val slash = p.lastIndexOf('/', gi)
        val base = new Path(if (slash <= 0) "." else p.substring(0, slash))
        val fs = base.getFileSystem(conf)
        val re = java.util.regex.Pattern.compile(
          globToRegex(new Path(p).toUri.getPath))
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fs.listFiles(base, true)
        while (it.hasNext) {
          val st = it.next()
          if (re.matcher(st.getPath.toUri.getPath).matches())
            out += st.getPath.toString
        }
        out.toSeq.sorted
      }
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    expanded.foreach { p =>
      val u = new org.apache.hadoop.fs.Path(p).toUri.normalize()
      seen += new org.apache.hadoop.fs.Path(u).toString
    }
    seen.toSeq
  }

  /** Register pre-existing Parquet files without rewriting them (reference
    * ducklake_add_data_files.cpp:44-69): per-column type check with the
    * reference's widening lattice, stats collected per file. Foreign
    * column names resolve through `columnMapping` (file name → table
    * name) and are recorded as a ducklake_name_mapping so scans read the
    * file under its own names (reference ducklake_name_map.cpp).
    * `allowMissing` lets files omit table columns or nested fields (read
    * back NULL), `ignoreExtraColumns` skips unknown file columns.
    * `hivePartitions=true` (the reference's AUTOMATIC default) serves
    * table columns named by `key=value` path segments from the PATH —
    * they take precedence over same-named file columns, fill identity
    * partition values, and `year=`/`month=`/`day=`/`hour=`/`bucket=`
    * keys fill transform partition values; a partitioned table rejects
    * files whose path does not pin every partition key (reference
    * add_file_partitioned.test). Paths may be globs (`**` supported);
    * equivalent spellings dedupe. */
  def addDataFiles(name: String, parquetPaths: Seq[String],
      columnMapping: Map[String, String] = Map.empty,
      allowMissing: Boolean = false,
      ignoreExtraColumns: Boolean = false,
      hivePartitions: Boolean = true): Snapshot = {
    require(cryptoOpts.isEmpty,
      "add_data_files into an encrypted lake is not supported " +
        "(foreign files are plaintext)") // parity: reference rejects too
    val snap = meta.currentSnapshot()
    val t = resolve(name, Some(snap.snapshotId))
    // columnsAt: works for txn-created tables (provisional schema) and
    // sees buffered alters (add_files_transaction_local.test)
    val cols = columnsAt(t.tableId, snap.snapshotId)
      .filter(_.parentColumn.isEmpty)
    val byLower = cols.map(c => c.name.toLowerCase -> c).toMap
    val mapLower = columnMapping.map { case (k, v) => k.toLowerCase -> v }
    val spec = effectivePartitionSpec(t, snap.snapshotId)
    val specFields = spec.toSeq.flatMap(_.fields)
    val paths = expandForeignPaths(parquetPaths)
    // Bulk-registration hot path. Per file this needs the file's Spark
    // schema + footer stats + a copy — all independent I/O — so files
    // run on a bounded pool, and the schema comes from the SAME footer
    // open as the stats (a DataFrameReader per file costs ~50 ms in
    // session/file-index overhead vs ~2 ms for the footer read; at 11
    // files/sec serial, a million-file backfill would take a day).
    // Catalog work stays serial: name mappings synchronize on the
    // metadata connection, and the final appendFiles commit was always
    // one batch. Registration order and first-error semantics match the
    // sequential path (results kept in path order; the lowest-index
    // failure is the one thrown).
    val allCols2 = columnsAt(t.tableId, snap.snapshotId)
    val tableHasGeometry = allCols2.exists(_.typeString == "geometry")
    val hconf = spark.sessionState.newHadoopConf()
    val toSpark = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    // spark.read.parquet reports relation schemas with every field
    // nullable; replicate so the identity-layout check (exact DataType
    // equality, which includes nested nullability) behaves identically
    def asNullable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = asNullable(m.keyType),
        valueType = asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    def perFile(p: String): PendingDataFile = {
      val (footer, rawSchema) =
        FooterStats.readWithSchema(p, hconf, toSpark.convert)
      val fileSchema =
        asNullable(rawSchema).asInstanceOf[StructType]
      val hive =
        if (hivePartitions) parseHiveSegments(p)
        else Map.empty[String, String]
      // table columns named by hive path segments are served from the
      // PATH and take precedence over same-named file columns (reference
      // MapColumns → MapHiveColumn); value cast-checked at add time
      val hiveServed: Seq[(ColumnInfo, Option[String])] = cols.flatMap { ci =>
        hive.get(ci.name.toLowerCase).map { raw =>
          val dt = DuckLakeTypes.fromTypeString(ci.typeString)
          dt match {
            case _: StructType | _: ArrayType | _: MapType =>
              throw new IllegalArgumentException(
                s"""Type "${ci.typeString}" is not supported for hive """ +
                  "partitioning")
            case _ => ()
          }
          val v = if (raw == HiveNullPartition) None else Some(raw)
          v.foreach { s =>
            if (tryCastHive(s, dt).isEmpty)
              throw new IllegalArgumentException(
                s"""Column "${ci.name}" exists as a hive partition with """ +
                  s"""value "$s", but this value cannot be cast to the """ +
                  s"""column type "${ci.typeString}"""")
          }
          (ci, v)
        }
      }
      val hiveIds = hiveServed.map(_._1.columnId).toSet
      val resolved: Seq[(String, ColumnInfo)] =
        fileSchema.fields.toSeq.flatMap { f =>
          byLower.get(
            mapLower.getOrElse(f.name.toLowerCase, f.name).toLowerCase)
          match {
            case Some(ci) if hiveIds.contains(ci.columnId) => None // path wins
            case Some(ci) =>
              checkAddType(f.name, f.dataType,
                DuckLakeTypes.fromTypeString(ci.typeString),
                Some(ci.typeString), p, name, allowMissing,
                ignoreExtraColumns)
              Some(f.name -> ci)
            case None if ignoreExtraColumns => None
            case None => throw new IllegalArgumentException(
              s"""Column "${f.name}" exists in file "$p" but was not """ +
                s"""found in table "$name"""" +
                "\n* Set ignore_extra_columns => true to add the file " +
                "anyway")
          }
        }
      val matchedIds = resolved.map(_._2.columnId).toSet ++ hiveIds
      val missing = cols.filterNot(c => matchedIds.contains(c.columnId))
      if (missing.nonEmpty && !allowMissing)
        throw new IllegalArgumentException(
          s"""Column "${missing.head.name}" exists in table "$name" but """ +
            s"""was not found in file "$p"""" +
            "\n* Set allow_missing => true to allow missing fields and " +
            "columns")
      // partition values: identity keys from hive-served columns;
      // year=/month=/day=/hour=/bucket= keys fill transform fields. A
      // partitioned table demands every key pinned exactly once and
      // nothing stray (reference AddFileToTable validation)
      val identityIdx = specFields
        .filter(_.transform == "identity").map(f => f.columnId -> f).toMap
      val hiveVals: Seq[(Option[Long], Option[String])] =
        hiveServed.map { case (ci, v) =>
          (identityIdx.get(ci.columnId).map(_.keyIndex), v)
        }
      var transformOk = true
      val usedNames = scala.collection.mutable.Set.empty[String]
      val transformVals: Seq[(Option[Long], Option[String])] =
        specFields.filter(_.transform != "identity").map { f =>
          val fieldName = cols.find(_.columnId == f.columnId)
            .map(_.name).getOrElse("")
          val keyName = partitionKeyName(f.transform, fieldName,
            usedNames.toSet)
          usedNames += keyName
          hive.get(keyName.toLowerCase) match {
            case Some(raw) if raw == HiveNullPartition =>
              (Some(f.keyIndex), None)
            case Some(raw) =>
              val parsed = scala.util.Try(raw.trim.toLong).toOption
              val bucketN =
                if (f.transform.startsWith("bucket"))
                  scala.util.Try(f.transform
                    .dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
                    .trim.toLong).toOption
                else None
              if (parsed.isEmpty ||
                bucketN.exists(n => parsed.exists(v => v < 0 || v >= n)))
                transformOk = false
              (Some(f.keyIndex), Some(raw))
            case None => (None, None) // key absent → invalid below
          }
        }
      spec.foreach { ps =>
        val all = hiveVals ++ transformVals
        val keyIdx = all.flatMap(_._1)
        val valid = transformOk && all.size == ps.fields.size &&
          keyIdx.size == all.size &&
          keyIdx.distinct.size == ps.fields.size
        if (!valid) throw new IllegalArgumentException(
          s"""File "$p" contains an invalid partition value for the """ +
            "table configuration.")
      }
      val partVals = (hiveVals ++ transformVals).collect {
        case (Some(ki), v) => (ki, v.getOrElse(HiveNullPartition))
      }
      val identity = hiveServed.isEmpty && missing.isEmpty &&
        resolved.forall { case (sn, ci) =>
          sn == ci.name && fileSchema(sn).dataType ==
            DuckLakeTypes.fromTypeString(ci.typeString)
        }
      val mappingId =
        if (identity) None
        else if (t.tableId < 0) throw new IllegalArgumentException(
          "add_data_files into a table created in the same transaction " +
            "requires files matching the table schema exactly " +
            "(column ids for a name mapping are not allocated yet)")
        else Some(meta.synchronized(meta.createNameMapping(t.tableId,
          resolved.map { case (sn, ci) => (sn, ci.columnId, false) } ++
            hiveServed.map { case (ci, _) => (ci.name, ci.columnId, true) })))
      // the copied-in path keeps the hive `key=value` segments that serve
      // columns so scans re-derive their values from the path (reference
      // ducklake_multi_file_reader.cpp:449-467 re-parses the file path)
      val hiveDirs = hiveServed.map { case (ci, v) =>
        s"${ci.name}=${v.map(escapeHive).getOrElse(HiveNullPartition)}"
      }.mkString("/")
      val finalName = s"ducklake-${UUID.randomUUID()}.parquet"
      val rel =
        if (hiveDirs.isEmpty) s"$name/$finalName"
        else s"$name/$hiveDirs/$finalName"
      io.copyIn(p, rel)
      // stats come from the parquet FOOTER, never a row scan — the
      // reference registers files from metadata alone
      // (ducklake_add_data_files.cpp ReadParquetFullMetadata); at 100 TB
      // ingest-in-place this is N footer reads, not N full scans. The
      // footer was already read (from the source file — the copy is
      // byte-identical) for the schema above. Geometry columns still
      // need the WKB scan pass (parquet footers carry no extents), so
      // those tables fall back to it.
      if (tableHasGeometry)
        statsFor(rel, cols,
          resolved.map { case (sn, ci) => ci.columnId -> sn }.toMap,
          hiveConsts = hiveServed.map { case (ci, v) => ci.columnId -> v })
          .copy(mappingId = mappingId, partitionValues = partVals)
      else {
        val srcByCol = resolved.map { case (sn, ci) =>
          ci.columnId -> sn
        }.toMap
        val hiveByCol = hiveServed.map { case (ci, v) =>
          ci.columnId -> v
        }.toMap
        // untrusted/unmapped footer stats → NO stats row at all: pruning
        // and the count fast paths treat the column as "cannot prove"
        // and keep the file; a fabricated null_count could lie to both
        def fromFooter(ci: ColumnInfo,
            path: String): Option[FileColumnStats] = {
          val dt = DuckLakeTypes.fromTypeString(ci.typeString)
          footer.leaves.get(path).flatMap(FooterStats.convert(_, dt))
            .map(ls => FileColumnStats(ci.columnId,
              Option(ls.min), Option(ls.max), ls.nullCount,
              numeric = StatsCodec.isNumeric(dt)))
        }
        val topStats = cols.flatMap { c =>
          val dt = DuckLakeTypes.fromTypeString(c.typeString)
          hiveByCol.get(c.columnId) match {
            case Some(v) => // per-file constant from the path
              val enc = v.flatMap(s => tryCastHive(s, dt))
                .flatMap(iv => StatsCodec.encode(iv, dt))
              Seq(FileColumnStats(c.columnId, enc, enc,
                if (v.isEmpty) footer.rowCount else 0L,
                numeric = StatsCodec.isNumeric(dt)))
            case None => srcByCol.get(c.columnId) match {
              case None => // allow_missing column: reads all-NULL
                Seq(FileColumnStats(c.columnId, None, None,
                  footer.rowCount))
              case Some(sn) => fromFooter(c, sn.toLowerCase).toSeq
            }
          }
        }
        // nested leaves keep their dotted footer paths under the
        // (possibly renamed) top-level source name
        val kidsOf2 = allCols2.filter(_.parentColumn.isDefined)
          .groupBy(_.parentColumn.get)
        def leafPaths(ci: ColumnInfo,
            prefix: String): Seq[(ColumnInfo, String)] = {
          val children = kidsOf2.getOrElse(ci.columnId, Nil)
          if (children.nonEmpty)
            children.flatMap(ch =>
              leafPaths(ch, s"$prefix.${ch.name.toLowerCase}"))
          else if (ci.parentColumn.isDefined && StatsCodec.statsSupported(
            DuckLakeTypes.fromTypeString(ci.typeString)))
            Seq((ci, prefix))
          else Nil
        }
        val leafStats = resolved.flatMap { case (sn, topCi) =>
          leafPaths(topCi, sn.toLowerCase).filter(_._1 != topCi)
            .flatMap { case (ci, path) => fromFooter(ci, path) }
        }
        PendingDataFile(rel, footer.rowCount, io.size(rel),
          topStats ++ leafStats, partitionValues = partVals,
          mappingId = mappingId, rowGroupCount = Some(footer.rowGroups))
      }
    }
    val addParallelism = math.max(1, math.min(16, paths.size))
    val pending: Seq[PendingDataFile] =
      if (addParallelism == 1) paths.map(perFile)
      else {
        val pool =
          java.util.concurrent.Executors.newFixedThreadPool(addParallelism)
        try {
          val futs = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[
              scala.util.Try[PendingDataFile]] {
              def call(): scala.util.Try[PendingDataFile] =
                scala.util.Try(perFile(p))
            })
          }
          val results = futs.map(_.get())
          results.collectFirst { case scala.util.Failure(e) => e }
            .foreach(e => throw e)
          results.map(_.get)
        } finally pool.shutdown()
      }
    txn match {
      case Some(st) => // buffer with the txn's appends: visible to the
        // txn's own reads, ONE commit snapshot, rollback removes the
        // copied files (add_files_transaction_local / add_rollback)
        st.appends += ((t.tableId, name, spec.map(_.partitionId), pending))
        snap
      case None =>
        meta.appendFiles(t.tableId, pending, spec.map(_.partitionId))
    }
  }

  /** Equality conjuncts on partitioned columns → (key_index, transformed
    * value) for catalog partition pruning. */
  private def extractPartitionEq(e: Expression, cols: Seq[ColumnInfo],
      ps: PartitionSpec): Seq[(Long, String)] = {
    val byName = cols.map(c => c.name -> c).toMap
    def name(ex: Expression): Option[String] = ex match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(a.name)
      case _ => None
    }
    // a STRING literal against a date/timestamp column would compare
    // raw text against the writer's CANONICAL rendering — any castable
    // but non-canonical spelling ('T' separator, trailing zeros) would
    // over-prune; bail to the row filter instead (sound)
    def comparable(ci: ColumnInfo, l: Literal): Boolean =
      !(l.dataType == org.apache.spark.sql.types.StringType &&
        Set("date", "timestamp", "timestamptz", "timestamp_s",
          "timestamp_ms", "timestamp_us", "timestamp_ns")
          .contains(ci.typeString))
    def eq(a: Expression, l: Literal): Seq[(Long, String)] = for {
      n <- name(a).toSeq
      ci <- byName.get(n).toSeq if comparable(ci, l)
      f <- ps.fields.filter(_.columnId == ci.columnId)
      v <- transformLiteral(f.transform, l.value, l.dataType).toSeq
    } yield (f.keyIndex, v)
    e match {
      case And(l, r) =>
        extractPartitionEq(l, cols, ps) ++ extractPartitionEq(r, cols, ps)
      case EqualTo(a, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a) => eq(a, l)
      case _ => Nil
    }
  }

  /** Column-API comparison/boolean operators arrive from the Spark 4
    * ColumnNode converter as `UnresolvedFunction(">", a, b)` etc. —
    * rewrite the known ones to their catalyst forms so the extraction
    * matchers below (shared with the SQL path, which delivers resolved
    * catalyst expressions) see one shape. */
  private def normalizeOps(e: Expression): Expression = e.transformUp {
    case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      if uf.nameParts.size == 1 && !uf.isDistinct =>
      (uf.nameParts.head.toLowerCase(java.util.Locale.ROOT),
        uf.arguments) match {
        case (">", Seq(a, b)) => GreaterThan(a, b)
        case ("<", Seq(a, b)) => LessThan(a, b)
        case (">=", Seq(a, b)) => GreaterThanOrEqual(a, b)
        case ("<=", Seq(a, b)) => LessThanOrEqual(a, b)
        case ("=" | "==", Seq(a, b)) => EqualTo(a, b)
        case ("and", Seq(a, b)) => And(a, b)
        case ("or", Seq(a, b)) =>
          org.apache.spark.sql.catalyst.expressions.Or(a, b)
        case ("isnull", Seq(a)) => IsNull(a)
        case ("isnotnull", Seq(a)) => IsNotNull(a)
        case ("in", a +: rest) if rest.nonEmpty =>
          org.apache.spark.sql.catalyst.expressions.In(a, rest)
        case _ => uf
      }
  }

  /** `variant_get(col, '$.path') op literal` conjuncts → variant-path
    * pruning filters (only paths with shredded stats actually prune —
    * unknown paths simply never match a stats row). */
  private def extractVariantFilters(e: Expression,
      cols: Seq[ColumnInfo]): Seq[VariantStatsFilter] = {
    val byName = cols.map(c => c.name -> c).toMap
    def attrName(ex: Expression): Option[String] = ex match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(a.name)
      case _ => None
    }
    def strLit(ex: Expression): Option[String] = ex match {
      case Literal(s, StringType) if s != null => Some(s.toString)
      case _ => None
    }
    def vg(ex: Expression): Option[(ColumnInfo, String, DataType)] =
      ex match {
        // resolved form (SQL path after analysis)
        case g: org.apache.spark.sql.catalyst.expressions.variant.VariantGet =>
          for {
            n <- attrName(g.child)
            ci <- byName.get(n)
            p <- strLit(g.path)
          } yield (ci, p, g.dataType)
        // unresolved form (DataFrame path: functions.variant_get builds an
        // UnresolvedFunction("variant_get", col, path, targetType))
        case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if uf.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
            == Seq("variant_get") && uf.arguments.size == 3 =>
          for {
            n <- attrName(uf.arguments.head)
            ci <- byName.get(n)
            p <- strLit(uf.arguments(1))
            ts <- strLit(uf.arguments(2))
            dt <- scala.util.Try(
              org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseDataType(ts)).toOption
          } yield (ci, p, dt)
        case _ => None
      }
    def mk(ex: Expression, op: String, l: Literal): Seq[VariantStatsFilter] =
      (for {
        (ci, p, dt) <- vg(ex)
        enc <- StatsCodec.encode(l.value, l.dataType)
      } yield VariantStatsFilter(ci.columnId, p, op, enc,
        StatsCodec.isNumeric(dt))).toSeq
    e match {
      case And(l, r) =>
        extractVariantFilters(l, cols) ++ extractVariantFilters(r, cols)
      case EqualTo(a, l: Literal) => mk(a, "=", l)
      case EqualTo(l: Literal, a) => mk(a, "=", l)
      case GreaterThan(a, l: Literal) => mk(a, ">", l)
      case GreaterThan(l: Literal, a) => mk(a, "<", l)
      case GreaterThanOrEqual(a, l: Literal) => mk(a, ">=", l)
      case GreaterThanOrEqual(l: Literal, a) => mk(a, "<=", l)
      case LessThan(a, l: Literal) => mk(a, "<", l)
      case LessThan(l: Literal, a) => mk(a, ">", l)
      case LessThanOrEqual(a, l: Literal) => mk(a, "<=", l)
      case LessThanOrEqual(l: Literal, a) => mk(a, ">=", l)
      case _ => Nil
    }
  }

  /** `st_bbox_intersects(geomcol, x1, y1, x2, y2)` conjuncts with literal
    * bounds → geometry bbox pruning filters. */
  /** Every geometry leaf nested under (not at) the top level, paired with
    * a per-row extent expression over the written rows: struct hops are
    * `getField`, a list hop lifts to array context (`transform` for
    * deeper hops, `flatten` for list-of-list), map hops take keys/values.
    * Feeds the same single stats pass as top-level columns (reference
    * nested geo stats, ducklake_geo_stats.cpp + the shredding model). */
  /** Scalar nested leaves with per-row read expressions for the single
    * write-stats pass (the reference stores min/max for EVERY leaf field
    * id — nested struct/list/map included — and prunes files on struct-
    * path filters; min_max_nested_leaf_rewrite_corruption.test shows the
    * stats surviving rewrites). Boolean = the expression yields a per-row
    * ARRAY of leaf values (list elements, map keys/values). */
  private def nestedLeafSpecs(
      allCols: Seq[ColumnInfo]): Seq[(ColumnInfo, Column, Boolean)] = {
    val kids = allCols.filter(_.parentColumn.isDefined)
      .groupBy(_.parentColumn.get)
    def walk(ci: ColumnInfo, cur: Column,
        inArray: Boolean): Seq[(ColumnInfo, Column, Boolean)] = {
      val ts = ci.typeString
      if (ts == "geometry") Nil // extents handled by nestedGeoSpecs
      else if (DuckLakeTypes.isStruct(ts))
        kids.getOrElse(ci.columnId, Nil).flatMap { ch =>
          val next = if (inArray) transform(cur, x => x.getField(ch.name))
            else cur.getField(ch.name)
          walk(ch, next, inArray)
        }
      else if (DuckLakeTypes.isList(ts))
        kids.getOrElse(ci.columnId, Nil).flatMap(el =>
          walk(el, if (inArray) flatten(cur) else cur, inArray = true))
      else if (DuckLakeTypes.isMap(ts) && !inArray)
        kids.getOrElse(ci.columnId, Nil).flatMap { ch =>
          val base =
            if (ch.name == "key") map_keys(cur) else map_values(cur)
          walk(ch, base, inArray = true)
        }
      else if (ci.parentColumn.isDefined && StatsCodec.statsSupported(
        DuckLakeTypes.fromTypeString(ts)))
        Seq((ci, cur, inArray))
      else Nil
    }
    allCols.filter(c => c.parentColumn.isEmpty &&
      (DuckLakeTypes.isStruct(c.typeString) ||
        DuckLakeTypes.isList(c.typeString) ||
        DuckLakeTypes.isMap(c.typeString)))
      .flatMap(c => walk(c, col(c.name), inArray = false))
  }

  /** min/max/count aggregate triple for one nested leaf */
  private def nestedLeafAggs(ci: ColumnInfo, ex: Column,
      isArray: Boolean): Seq[Column] = {
    val (mn, mx) =
      if (isArray) (array_min(ex), array_max(ex)) else (ex, ex)
    Seq(min(mn).as(s"min_nl${ci.columnId}"),
      max(mx).as(s"max_nl${ci.columnId}"),
      count(ex).as(s"cnt_nl${ci.columnId}"))
  }

  /** stats row for one nested leaf from an aggregated result row */
  private def nestedLeafStats(r: org.apache.spark.sql.Row, rows: Long,
      ci: ColumnInfo): FileColumnStats = {
    val dt = DuckLakeTypes.fromTypeString(ci.typeString)
    FileColumnStats(ci.columnId,
      StatsCodec.encode(r.getAs[Any](s"min_nl${ci.columnId}"), dt),
      StatsCodec.encode(r.getAs[Any](s"max_nl${ci.columnId}"), dt),
      rows - r.getAs[Long](s"cnt_nl${ci.columnId}"),
      numeric = StatsCodec.isNumeric(dt))
  }

  private def nestedGeoSpecs(
      allCols: Seq[ColumnInfo]): Seq[(ColumnInfo, Column)] = {
    val kids = allCols.filter(_.parentColumn.isDefined)
      .groupBy(_.parentColumn.get)
    def walk(ci: ColumnInfo, cur: Column,
        inArray: Boolean): Seq[(ColumnInfo, Column)] = {
      val ts = ci.typeString
      if (ts == "geometry")
        if (ci.parentColumn.isEmpty) Nil // top-level handled separately
        else Seq(ci -> (if (inArray)
          graft.functions.GeoFunctions.geoExtentMerge(cur)
        else graft.functions.GeoFunctions.geoExtent(cur)))
      else if (DuckLakeTypes.isStruct(ts))
        kids.getOrElse(ci.columnId, Nil).flatMap { ch =>
          val next = if (inArray) transform(cur, x => x.getField(ch.name))
            else cur.getField(ch.name)
          walk(ch, next, inArray)
        }
      else if (DuckLakeTypes.isList(ts))
        kids.getOrElse(ci.columnId, Nil).flatMap(el =>
          walk(el, if (inArray) flatten(cur) else cur, inArray = true))
      else if (DuckLakeTypes.isMap(ts) && !inArray)
        kids.getOrElse(ci.columnId, Nil).flatMap { ch =>
          val base =
            if (ch.name == "key") map_keys(cur) else map_values(cur)
          walk(ch, base, inArray = true)
        }
      else Nil
    }
    allCols.filter(_.parentColumn.isEmpty)
      .flatMap(c => walk(c, col(c.name), inArray = false))
  }

  /** Dotted catalog path of a (possibly nested) column, list/map slots
    * included (`pts.element`, `m.value`). */
  private def columnPath(allCols: Seq[ColumnInfo], ci: ColumnInfo): String = {
    val byId = allCols.map(c => c.columnId -> c).toMap
    def go(c: ColumnInfo): String = c.parentColumn.flatMap(byId.get) match {
      case Some(p) => s"${go(p)}.${c.name}"
      case None => c.name
    }
    go(ci)
  }

  private def extractGeoFilters(e: Expression,
      allCols: Seq[ColumnInfo]): Seq[GeoStatsFilter] = {
    val kids = allCols.filter(_.parentColumn.isDefined)
      .groupBy(_.parentColumn.get)
    // resolve a dotted attribute path against the column tree; struct
    // hops only — geometry under list/map has no scalar filter shape
    def resolve(path: Seq[String]): Option[ColumnInfo] = {
      val top = allCols.find(c =>
        c.parentColumn.isEmpty && c.name.equalsIgnoreCase(path.head))
      path.tail.foldLeft(top) { (cur, seg) =>
        cur.flatMap(c => kids.getOrElse(c.columnId, Nil)
          .find(_.name.equalsIgnoreCase(seg)))
      }.filter(_.typeString == "geometry")
    }
    def attrPath(ex: Expression): Option[Seq[String]] = ex match {
      case a: UnresolvedAttribute => Some(a.nameParts)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(Seq(a.name))
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        attrPath(g.child).map(_ :+ g.extractFieldName)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        attrPath(c.child)
      case _ => None
    }
    def numLit(ex: Expression): Option[Double] = ex match {
      case Literal(v: Number, _) => Some(v.doubleValue())
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        numLit(c.child)
      case _ => None
    }
    e match {
      case And(l, r) =>
        extractGeoFilters(l, allCols) ++ extractGeoFilters(r, allCols)
      case b: graft.functions.StBboxIntersects =>
        (for {
          p <- attrPath(b.children.head)
          ci <- resolve(p)
          bounds = b.children.tail.flatMap(numLit)
          if bounds.size == 4
        } yield GeoStatsFilter(ci.columnId,
          bounds(0), bounds(1), bounds(2), bounds(3))).toSeq
      case _ => Nil
    }
  }

  // ----------------------------------------------------- filter extraction

  /** Convert a Spark filter expression into catalog stats filters (only
    * conjuncts of col-op-literal survive; everything else stays Spark-side). */
  private def extractStatsFilters(e: Expression,
      allCols: Seq[ColumnInfo]): Seq[StatsFilter] = {
    val cols = allCols.filter(_.parentColumn.isEmpty)
    val byName = cols.map(c => c.name -> c).toMap
    val kidsOf = allCols.filter(_.parentColumn.isDefined)
      .groupBy(_.parentColumn.get)
    // struct-path filters (`s.a < 51`) resolve to the LEAF's column id —
    // per-file leaf stats prune exactly like top-level stats (reference
    // nested min/max model, min_max_nested_leaf_rewrite_corruption.test)
    def resolvePath(parts: Seq[String]): Option[ColumnInfo] =
      byName.get(parts.head).flatMap { top =>
        parts.tail.foldLeft(Option(top)) { (cur, seg) =>
          cur.flatMap(ci => kidsOf.getOrElse(ci.columnId, Nil)
            .find(_.name.equalsIgnoreCase(seg)))
        }
      }
    def pathOf(ex: Expression): Option[Seq[String]] = ex match {
      case a: UnresolvedAttribute => Some(a.nameParts)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(Seq(a.name))
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        pathOf(g.child).map(_ :+ g.extractFieldName)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue =>
        u.extraction match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String,
            StringType) => pathOf(u.child).map(_ :+ s.toString)
          case _ => None
        }
      case _ => None
    }
    def colId(ex: Expression): Option[(ColumnInfo, DataType)] =
      pathOf(ex).flatMap {
        case Seq(one) => byName.get(one)
        case parts => resolvePath(parts)
      }.map(ci => (ci, DuckLakeTypes.fromTypeString(ci.typeString)))
    def mk(ci: ColumnInfo, dt: DataType, op: String,
        lit: Literal): Seq[StatsFilter] =
      StatsCodec.encode(lit.value, lit.dataType).map { enc =>
        StatsFilter(ci.columnId, op, enc, StatsCodec.isNumeric(dt))
      }.toSeq

    // ---- monotone-extraction rewrite -----------------------------------
    // `year(a) cmp k` maps to a range on the RAW column (year() is
    // monotone), so the predicate prunes through the same per-file
    // min/max zone maps — the reference prunes year-transform partitions
    // from raw stats the same way
    // (ducklake_metadata_manager.cpp:1719-1740). Only used for FILE
    // pruning; the original expression still filters rows, so the
    // rewrite must merely never over-prune (sessions run UTC, matching
    // the write-side stats encoding). year(ts) analyzes as
    // Year(Cast(ts, date)) on resolved trees and as an unresolved
    // `year` call on the DataFrame path; both unwrap.
    object YearOf {
      def unapply(ex: Expression): Option[Expression] = ex match {
        case org.apache.spark.sql.catalyst.expressions.Year(child) =>
          Some(stripDateCast(child))
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
              Seq("year") && f.arguments.size == 1 =>
          Some(stripDateCast(f.arguments.head))
        case _ => None
      }
      private def stripDateCast(ex: Expression): Expression = ex match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == org.apache.spark.sql.types.DateType => c.child
        case other => other
      }
    }
    object IntLit {
      def unapply(ex: Expression): Option[Int] = ex match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) =>
          Some(v)
        case _ => None
      }
    }
    def janLit(y: Int, dt: DataType): Option[Literal] = {
      val d = java.time.LocalDate.of(y, 1, 1)
      dt match {
        case org.apache.spark.sql.types.DateType =>
          Some(Literal(d.toEpochDay.toInt, dt))
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          Some(Literal(d.toEpochDay * 86400L * 1000000L, dt))
        case _ => None
      }
    }
    /** a ∈ [Jan1(geY), Jan1(ltY)) in the column's own type */
    def yearRange(a: Expression, geY: Option[Int],
        ltY: Option[Int]): Option[Expression] =
      colId(a).flatMap { case (_, dt) =>
        val ge = geY.flatMap(janLit(_, dt))
          .map(l => GreaterThanOrEqual(a, l): Expression)
        val lt = ltY.flatMap(janLit(_, dt))
          .map(l => LessThan(a, l): Expression)
        (ge, lt) match {
          case (Some(g), Some(l2)) => Some(And(g, l2))
          case (g, l2) => g.orElse(l2)
        }
      }
    // NTZ column vs TIMESTAMP value: Spark's form casts the literal (folded
    // here to the constant the row filter compares against; a cast that
    // fails to evaluate stays unfolded, as in Spark's ConstantFolding,
    // since And may never evaluate it); a cast of the COLUMN is a
    // constant shift only in a fixed-offset zone, so in a zone with DST
    // that conjunct stays Spark-side
    def ntzShift(c: Cast) = {
      val rules = java.time.ZoneId.of(c.timeZoneId.getOrElse(
        spark.sessionState.conf.sessionLocalTimeZone)).getRules
      Option.when(c.dataType == TimestampType && rules.isFixedOffset &&
        colId(c.child).exists(_._2 == TimestampNTZType))(
        rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000000L)
    }
    val e0 = e.transformUp {
      case c: Cast if c.child.isInstanceOf[Literal] &&
          (c.dataType == TimestampType || c.dataType == TimestampNTZType) =>
        val tz = c.withTimeZone(c.timeZoneId.getOrElse(
          spark.sessionState.conf.sessionLocalTimeZone))
        scala.util.Try(tz.eval()).toOption.filter(_ => tz.resolved)
          .fold(c: Expression)(Literal(_, tz.dataType))
      case b: BinaryComparison =>
        def shifted(c: Cast, v: Long) =
          ntzShift(c).map(o => (c.child, Literal(v + o, TimestampNTZType)))
        (b.children match {
          case Seq(c: Cast, Literal(v: Long, TimestampType)) =>
            shifted(c, v).map { case (a, l) => Seq(a, l) }
          case Seq(Literal(v: Long, TimestampType), c: Cast) =>
            shifted(c, v).map { case (a, l) => Seq(l, a) }
          case _ => None
        }).fold(b: Expression)(b.withNewChildren)
    }
    val e1 = e0.transformUp {
      case x @ GreaterThanOrEqual(YearOf(a), IntLit(y)) =>
        yearRange(a, Some(y), None).getOrElse(x)
      case x @ GreaterThan(YearOf(a), IntLit(y)) =>
        yearRange(a, Some(y + 1), None).getOrElse(x)
      case x @ LessThan(YearOf(a), IntLit(y)) =>
        yearRange(a, None, Some(y)).getOrElse(x)
      case x @ LessThanOrEqual(YearOf(a), IntLit(y)) =>
        yearRange(a, None, Some(y + 1)).getOrElse(x)
      case x @ EqualTo(YearOf(a), IntLit(y)) =>
        yearRange(a, Some(y), Some(y + 1)).getOrElse(x)
      case x @ EqualTo(IntLit(y), YearOf(a)) =>
        yearRange(a, Some(y), Some(y + 1)).getOrElse(x)
      case x @ GreaterThanOrEqual(IntLit(y), YearOf(a)) =>
        yearRange(a, None, Some(y + 1)).getOrElse(x)
      case x @ GreaterThan(IntLit(y), YearOf(a)) =>
        yearRange(a, None, Some(y)).getOrElse(x)
      case x @ LessThan(IntLit(y), YearOf(a)) =>
        yearRange(a, Some(y + 1), None).getOrElse(x)
      case x @ LessThanOrEqual(IntLit(y), YearOf(a)) =>
        yearRange(a, Some(y), None).getOrElse(x)
    }
    // derive a [low, high] literal envelope for an expression constraining
    // ONE column (None side = unbounded); used for disjunction pruning
    def boundsOf(ex: Expression)
        : Option[(ColumnInfo, DataType, Option[Literal], Option[Literal])] = {
      def merge(a: Option[Literal], b: Option[Literal], takeMin: Boolean,
          union: Boolean): Option[Literal] = (a, b) match {
        case (Some(x), Some(y)) if x.dataType == y.dataType =>
          val ord = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(x.dataType)
          val xSmaller = ord.lt(x.value, y.value)
          Some(if (xSmaller == takeMin) x else y)
        case (Some(_), Some(_)) => None
        // unbounded ∪ bounded = unbounded; unbounded ∩ bounded = bounded
        case (x, y) => if (union) None else x.orElse(y)
      }
      def combine(l: Expression, r: Expression, union: Boolean) =
        (boundsOf(l), boundsOf(r)) match {
          case (Some((ci, dt, lo1, hi1)), Some((ci2, _, lo2, hi2)))
              if ci.columnId == ci2.columnId =>
            Some((ci, dt, merge(lo1, lo2, takeMin = union, union),
              merge(hi1, hi2, takeMin = !union, union)))
          case _ => None
        }
      ex match {
        case EqualTo(a, l: Literal) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, Some(l), Some(l)) }
        case EqualTo(l: Literal, a) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, Some(l), Some(l)) }
        case GreaterThan(a, l: Literal) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, Some(l), None) }
        case GreaterThanOrEqual(a, l: Literal) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, Some(l), None) }
        case LessThan(a, l: Literal) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, None, Some(l)) }
        case LessThanOrEqual(a, l: Literal) if l.value != null =>
          colId(a).map { case (ci, dt) => (ci, dt, None, Some(l)) }
        case org.apache.spark.sql.catalyst.expressions.In(a, list)
            if list.nonEmpty &&
              list.forall(x => x.isInstanceOf[Literal] &&
                x.asInstanceOf[Literal].value != null) =>
          colId(a).map { case (ci, dt) =>
            val lits = list.map(_.asInstanceOf[Literal])
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(lits.head.dataType)
            val sorted = lits.sortWith((x, y) => ord.lt(x.value, y.value))
            (ci, dt, Some(sorted.head), Some(sorted.last))
          }
        case And(l, r) => combine(l, r, union = false)
        case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
          combine(l, r, union = true)
        case _ => None
      }
    }
    e1 match {
      case And(l, r) =>
        extractStatsFilters(l, allCols) ++ extractStatsFilters(r, allCols)
      // disjunction envelope (reference prunes ORs through its zone maps
      // the same way): when both branches constrain the SAME column, the
      // union of their ranges still prunes files outside [min, max]
      case or: org.apache.spark.sql.catalyst.expressions.Or =>
        boundsOf(or).toSeq.flatMap { case (ci, dt, lo, hi) =>
          lo.toSeq.flatMap(mk(ci, dt, ">=", _)) ++
            hi.toSeq.flatMap(mk(ci, dt, "<=", _))
        }
      case EqualTo(a, l: Literal) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "=", l) }
      case EqualTo(l: Literal, a) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "=", l) }
      case GreaterThan(a, l: Literal) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, ">", l) }
      case GreaterThan(l: Literal, a) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "<", l) }
      case GreaterThanOrEqual(a, l: Literal) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, ">=", l) }
      case GreaterThanOrEqual(l: Literal, a) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "<=", l) }
      case LessThan(a, l: Literal) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "<", l) }
      case LessThan(l: Literal, a) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, ">", l) }
      case LessThanOrEqual(a, l: Literal) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, "<=", l) }
      case LessThanOrEqual(l: Literal, a) =>
        colId(a).toSeq.flatMap { case (ci, dt) => mk(ci, dt, ">=", l) }
      // IN-list → [min,max] envelope on the file stats (exact membership
      // still filters row-side; the envelope only shrinks the file list —
      // reference prunes IN the same way via its min/max zone maps)
      case org.apache.spark.sql.catalyst.expressions.In(a, list)
          if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        colId(a).toSeq.flatMap { case (ci, dt) =>
          val lits = list.collect { case l: Literal if l.value != null => l }
          if (lits.isEmpty || lits.size != list.size) Nil
          else {
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(lits.head.dataType)
            val sorted = lits.sortWith((x, y) => ord.lt(x.value, y.value))
            mk(ci, dt, ">=", sorted.head) ++ mk(ci, dt, "<=", sorted.last)
          }
        }
      case IsNotNull(a) => colId(a).toSeq.map { case (ci, _) =>
        StatsFilter(ci.columnId, "isnotnull", "", numeric = false) }
      case IsNull(a) => colId(a).toSeq.map { case (ci, _) =>
        StatsFilter(ci.columnId, "isnull", "", numeric = false) }
      case _ => Nil
    }
  }
}

object Lake {
  private val aliasSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Test-only fault injection: when set, invoked after an append's data
    * files are staged on disk but BEFORE the catalog commit registers
    * them (and their streaming-ledger marker). Throwing here simulates a
    * crash at the worst moment for exactly-once: data on disk, nothing
    * committed. See LakeSinkSpec's crash-replay test. */
  @volatile private[graft] var preCommitFault: Option[String => Unit] = None

  /** Field-metadata key carrying a lake-level type Spark has no native
    * DataType for (currently: geometry). */
  val DeclaredTypeKey = "graft.type"

  /** A geometry column for createTable: WKB blob storage + extent stats. */
  def geometryField(name: String): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name,
      org.apache.spark.sql.types.BinaryType, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(DeclaredTypeKey, "geometry").build())

  /** A column declared by lake type string — the way to put geometry (or
    * any lake-level type) at a nested position, e.g.
    * `Lake.typedField("pts", "list<geometry>")` or
    * `Lake.typedField("info", "struct<g geometry,tag varchar>")`. The
    * Spark-visible type is derived (geometry → binary). */
  def typedField(name: String,
      lakeType: String): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name,
      DuckLakeTypes.fromTypeString(lakeType), nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(DeclaredTypeKey, lakeType).build())

  private[catalog] def declaredType(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(DeclaredTypeKey))
      f.metadata.getString(DeclaredTypeKey)
    else f.dataType match {
      // recurse so geometryField/typedField work INSIDE a struct column
      case st: org.apache.spark.sql.types.StructType =>
        DuckLakeTypes.mkStructString(
          st.fields.toSeq.map(ch => ch.name -> declaredType(ch)))
      case other => DuckLakeTypes.toTypeString(other)
    }

  /** materialized row-identity columns in compacted files (reference
    * ducklake_multi_file_reader.cpp:574-596) */
  val RowIdCol = "_ducklake_internal_row_id"
  val SnapCol = "_ducklake_internal_snapshot_id"

  /** pseudo-filename for rows inlined in the catalog DB */
  val InlinedFile = "__ducklake_inlined__"

  /** data files are immutable → their physical schema is cacheable */
  private val fileSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private[graft] def fileSchemaCacheSize: Int = fileSchemaCache.size
  private[graft] def clearFileSchemaCache(): Unit = fileSchemaCache.clear()

  /** Attach (or create) a lake: Derby catalog dir + data dir (any
    * Hadoop-FileSystem scheme). Catalogs written by an older metadata
    * format are migrated in place; when the migration flags a rowid
    * backfill (pre-0.4 compacted files embed materialized rowid columns
    * the old catalog never recorded), the attach performs the one-time
    * footer-informed flag backfill here, where parquet is readable. */
  /** `Lake.attach(spark, "ducklake:<secret>")` — attach through a named
    * DUCKLAKE secret holding metadata_path/data_path (reference
    * ducklake_secret.cpp attach-by-secret). */
  def attach(spark: SparkSession, secretRef: String): Lake = {
    if (!secretRef.startsWith("ducklake:")) {
      // ATTACH without DATA_PATH: an existing lake re-attaches with the
      // data path stored in its own ducklake_metadata (data_path_tag
      // .test); a NEW filesystem catalog defaults its data to
      // `<catalog>.files` beside it (general/default_path.test)
      val isUrl = secretRef.startsWith("jdbc:") ||
        secretRef.startsWith("http")
      if (!isUrl && !new java.io.File(secretRef).exists())
        return attach(spark, secretRef, s"$secretRef.files")
      val url = if (isUrl) secretRef else MetadataManager.derbyUrl(secretRef)
      val probe = new MetadataManager(url, None)
      val stored = probe.dataPath
      return attach(spark, secretRef, stored)
    }
    val name = secretRef.stripPrefix("ducklake:")
    val s = Secrets.get(name).getOrElse(
      throw new IllegalArgumentException(s"no secret $name"))
    val meta = s.params.getOrElse("metadata_path",
      throw new IllegalArgumentException(s"secret $name lacks metadata_path"))
    val data = s.params.getOrElse("data_path",
      throw new IllegalArgumentException(s"secret $name lacks data_path"))
    attach(spark, meta, data)
  }

  /** Attach options mirroring the reference's ATTACH parameters:
    * `READ_ONLY` rejects every commit; `SNAPSHOT_VERSION v` pins all
    * reads to snapshot v and implies read-only
    * (attach_at_snapshot.test, ducklake_read_only.test). */
  def attach(spark: SparkSession, catalogDir: String, dataPath: String,
      readOnly: Boolean, snapshotVersion: Option[Long]): Lake = {
    if (readOnly && !catalogDir.startsWith("jdbc:") &&
      !catalogDir.startsWith("http")) {
      // read-only attach must not create a missing catalog
      require(new java.io.File(catalogDir).exists(),
        s"cannot attach read-only: catalog $catalogDir does not exist")
    }
    val lake = attach(spark, catalogDir, dataPath)
    snapshotVersion.foreach(lake.meta.pinSnapshot)
    if (readOnly) lake.meta.readOnly = true
    lake
  }

  def attach(spark: SparkSession, catalogDir: String,
      dataPath: String): Lake =
    attach(spark, catalogDir, dataPath, metadataSchema = None)

  /** Throwaway-lake attach for oracle/verify runs, honoring the
    * `SPARK_GRAFT_CATALOG` backend override: unset → embedded Derby under
    * `workDir/cat`; `sqlite` → the live SQLite backend (one catalog file
    * per lake); a `jdbc:` URL → that shared server with one
    * METADATA_SCHEMA per lake (the reference's transaction_schema
    * sharing shape). Lets the FULL lake oracle sweep hash-check any
    * backend end to end without touching query code. */
  def attachEphemeral(spark: SparkSession, workDir: String): Lake =
    sys.props.get("graft.catalog").orElse(
      sys.env.get("SPARK_GRAFT_CATALOG")) match {
      case Some("sqlite") =>
        attach(spark, s"jdbc:sqlite:$workDir/cat.db", s"$workDir/data")
      case Some(url) if url.startsWith("jdbc:") =>
        val schema = "g" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(16)
        attach(spark, url, s"$workDir/data", metadataSchema = Some(schema))
      case _ => attach(spark, s"$workDir/cat", s"$workDir/data")
    }


  /** `metadataSchema` mirrors the reference's METADATA_SCHEMA attach
    * option (transaction_schema.test): several lakes share ONE metadata
    * store, each keeping its `ducklake_*` tables under its own schema. */
  def attach(spark: SparkSession, catalogDir: String,
      dataPath: String, metadataSchema: Option[String]): Lake = {
    // storage credentials scoped to this data path land in the Hadoop
    // conf BEFORE the FileSystem is resolved (object-store roots)
    Secrets.applyTo(spark, dataPath)
    new LakeIO(dataPath).mkdirsRoot()
    // catalogDir may be a raw catalog URL: jdbc:… attaches directly,
    // http(s):… goes through the quack-style HTTP transport
    // ([[HttpCatalogServer]]); a plain path is an embedded Derby dir
    val catalogUrl =
      if (catalogDir.startsWith("jdbc:") || catalogDir.startsWith("http://")
        || catalogDir.startsWith("https://")) catalogDir
      else MetadataManager.derbyUrl(catalogDir)
    val mgr = new MetadataManager(catalogUrl, metadataSchema)
    mgr.initialize(dataPath)
    val lake = new Lake(spark, mgr, mgr.dataPath)
    if (mgr.pendingRowIdBackfill) {
      val flagged = mgr.allDataFiles().filter { case (_, path) =>
        scala.util.Try(lake.readSchemaOf(path).fieldNames
          .contains(RowIdCol)).getOrElse(false)
      }
      mgr.setFilesHaveRowIds(flagged.map(_._1))
      mgr.clearRowIdBackfill()
    }
    lake
  }
}
