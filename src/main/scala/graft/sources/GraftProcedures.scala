package graft.sources

import java.util.Collections

import graft.catalog.Lake
import graft.plans.LakeRegistry
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{
  BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** The lake's procedures — the one list behind both `CALL` spellings.
  * The maintenance surface the reference registers as table functions
  * (`src/ducklake_extension.cpp:53-126`) runs natively as DSv2 stored
  * procedures through `spark.sql("CALL graft.checkpoint('t')")`, with
  * typed, defaultable parameters resolved by Spark's own analyzer (named
  * or positional arguments, `SHOW PROCEDURES` / `DESCRIBE PROCEDURE` for
  * free); `lake.sql("CALL ducklake.checkpoint('t')")` binds its DuckDB-
  * style argument text to the same [[Spec]]s. Each call returns a
  * one-row `count` relation via `LocalScan`. */
object GraftProcedures {

  private def s(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString
  private def optL(row: InternalRow, i: Int): Option[Long] =
    if (row.isNullAt(i)) None else Some(row.getLong(i))

  /** `params`: (name, type, default as SQL literal text; None =
    * required), in positional order; `run` reads the bound row. */
  private[graft] final case class Spec(
      name: String,
      params: Seq[(String, DataType, Option[String])],
      run: (Lake, InternalRow) => Long)

  /** flush one table, or — without a table — every table of one schema
    * or of the whole catalog (reference
    * `ducklake_flush_inlined_data('catalog')`, data_inlining_flush.test) */
  private def flush(f: (Lake, String) => Long)(lake: Lake,
      r: InternalRow): Long =
    Option(s(r, 0)) match {
      case Some(tbl) => f(lake, tbl)
      case None =>
        val sid = lake.currentSnapshotId()
        Option(s(r, 1)).map(Seq(_))
          .getOrElse(lake.meta.listSchemas().map(_.name))
          .flatMap { sc =>
            lake.meta.listTables(sid, sc).map { t =>
              f(lake, if (sc == "main") t.name else s"$sc.${t.name}")
            }
          }.sum
    }

  private val specs: Seq[Spec] = Seq(
    Spec("merge_adjacent_files",
      Seq(("table_name", StringType, None),
        ("target_file_size", LongType, Some((512L * 1024 * 1024).toString)),
        ("max_compacted_files", LongType, Some("NULL"))),
      (lake, r) => lake.mergeAdjacentFiles(s(r, 0),
        optL(r, 1).getOrElse(512L * 1024 * 1024),
        optL(r, 2).map(_.toInt)).toLong),
    Spec("rewrite_data_files",
      Seq(("table_name", StringType, None),
        ("delete_threshold", DoubleType, Some("0.95")),
        ("max_compacted_files", LongType, Some("NULL"))),
      (lake, r) => lake.rewriteDataFiles(s(r, 0),
        if (r.isNullAt(1)) 0.95 else r.getDouble(1),
        optL(r, 2).map(_.toInt)).toLong),
    Spec("expire_snapshots",
      Seq(("older_than_ms", LongType, Some("NULL"))),
      (lake, r) => lake.expireSnapshots(optL(r, 0)).size.toLong),
    Spec("cleanup_old_files",
      Seq(("older_than_ms", LongType, Some("NULL"))),
      (lake, r) => lake.cleanupOldFiles(optL(r, 0)).size.toLong),
    Spec("delete_orphaned_files",
      Seq(("table_name", StringType, None)),
      (lake, r) => lake.deleteOrphanedFiles(s(r, 0)).size.toLong),
    Spec("flush_inlined_data",
      Seq(("table_name", StringType, Some("NULL")),
        ("schema_name", StringType, Some("NULL"))),
      flush(_.flushInlinedData(_))),
    Spec("flush_inlined_deletes",
      Seq(("table_name", StringType, Some("NULL")),
        ("schema_name", StringType, Some("NULL"))),
      flush(_.flushInlinedDeletes(_))),
    Spec("checkpoint",
      Seq(("table_name", StringType, None)),
      (lake, r) => { lake.checkpoint(s(r, 0)); 0L }),
    Spec("set_option",
      Seq(("option_name", StringType, None), ("value", StringType, None),
        ("table_name", StringType, Some("NULL"))),
      (lake, r) => { lake.setOption(s(r, 0), s(r, 1),
        Option(s(r, 2))); 0L }),
    Spec("set_commit_message",
      Seq(("author", StringType, None), ("message", StringType, None),
        ("extra_info", StringType, Some("NULL"))),
      (lake, r) => { lake.setCommitMessage(s(r, 0), s(r, 1),
        Option(s(r, 2))); 0L }),
    Spec("create_mv",
      Seq(("view_name", StringType, None), ("base_table", StringType, None),
        ("group_cols", StringType, None), ("sums", StringType, None)),
      (lake, r) => {
        val sums = s(r, 3).split(";").toSeq.filter(_.nonEmpty).map { x =>
          val i = x.indexOf(':')
          (x.substring(0, i).trim, x.substring(i + 1).trim)
        }
        graft.operators.IncrementalView.createManaged(lake, s(r, 0),
          s(r, 1), s(r, 2).split(",").toSeq.map(_.trim), sums)
      }),
    Spec("refresh_mv",
      Seq(("view_name", StringType, None)),
      (lake, r) =>
        graft.operators.IncrementalView.refreshManaged(lake, s(r, 0))),
    // reference ducklake_add_data_files.cpp:69-84 named parameters
    Spec("add_data_files",
      Seq(("table_name", StringType, None),
        ("files", ArrayType(StringType), None),
        ("allow_missing", BooleanType, Some("false")),
        ("ignore_extra_columns", BooleanType, Some("false")),
        ("hive_partitioning", BooleanType, Some("true"))),
      (lake, r) => {
        lake.addDataFiles(s(r, 0),
          r.getArray(1).toSeq[org.apache.spark.unsafe.types.UTF8String](
            StringType).map(_.toString),
          allowMissing = r.getBoolean(2),
          ignoreExtraColumns = r.getBoolean(3),
          hivePartitions = r.getBoolean(4))
        0L
      }),
    // reference ducklake_metadata_logging.test; the logger name is
    // accepted and ignored (there is only the metadata logger)
    Spec("enable_logging",
      Seq(("logger", StringType, Some("NULL"))),
      (lake, _) => { lake.enableMetadataLogging(); 0L }),
    Spec("disable_logging", Nil,
      (lake, _) => { lake.disableMetadataLogging(); 0L }),
  )

  private val byName = specs.map(p => p.name -> p).toMap

  def names: Seq[String] = specs.map(_.name)

  private[graft] def spec(name: String): Option[Spec] =
    byName.get(name.toLowerCase(java.util.Locale.ROOT))

  def load(alias: String, name: String): Option[UnboundProcedure] =
    spec(name).map(new Unbound(alias, _))

  private final class Unbound(alias: String, spec: Spec)
      extends UnboundProcedure {
    override def name(): String = spec.name
    override def description(): String = s"graft lake ${spec.name}"
    override def bind(inputType: StructType): BoundProcedure =
      new Bound(alias, spec)
  }

  private final class Bound(alias: String, spec: Spec)
      extends BoundProcedure {
    override def name(): String = spec.name
    override def description(): String = s"graft lake ${spec.name}"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      spec.params.map { case (n, dt, dflt) =>
        val b = ProcedureParameter.in(n, dt)
        dflt.foreach(b.defaultValue)
        b.build()
      }.toArray
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val lake = LakeRegistry.get(alias).getOrElse(
        throw new IllegalStateException(
          s"no lake registered for catalog $alias"))
      val n = spec.run(lake, input)
      Collections.singletonList[Scan](new CountScan(n)).iterator()
    }
  }

  private final class CountScan(n: Long) extends LocalScan {
    override def readSchema(): StructType =
      StructType(Seq(StructField("count", LongType, nullable = false)))
    override def rows(): Array[InternalRow] = Array(InternalRow(n))
  }
}
