package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import graft.catalog.Lake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maintenance surface, oracle-anchored (round-11 item: convert the
  * spec-only components to DuckDB-hash-checked rows). Each query runs a
  * real maintenance pipeline on a throwaway lake — CHECKPOINT, inlining
  * flush, snapshot expiry + time travel, sort-on-insert, orphan/old-file
  * cleanup, write-sizing options, snapshots() metadata — and emits
  * (a) the table CONTENT after the operation, hash-compared against
  * DuckDB replaying the same logical DML on the raw tables, plus
  * (b) operation invariants (rowids intact, file counts, orphan lists)
  * as boolean columns that are literally TRUE on the oracle side — so a
  * broken maintenance op flips either the content hash or a boolean.
  *
  * Reference anchors: ducklake CHECKPOINT order
  * (src/storage/ducklake_storage.cpp checkpoint), flush_inlined_data
  * (test/sql/data_inlining/data_inlining_flush.test), expire_snapshots +
  * AT VERSION (test/sql/maintenance/expire_snapshots.test),
  * sort-on-insert (ducklake_sort_data.cpp), cleanup_old_files /
  * delete_orphaned_files (ducklake_cleanup.cpp), per_thread_output +
  * target_file_size (ducklake_set_option.cpp). */
object MaintenanceQueries extends QueryPack {

  import LakeQueries.{detached, freshLake}
  import graft.QueryDsl._

  /** one boolean out of an aggregated predicate (min over 0/1) */
  private def allRows(pred: Column): Column =
    (min(when(pred, 1).otherwise(0)) === 1)

  /** CHECKPOINT: delete → full maintenance pipeline (flush, expire,
    * merge_adjacent, rewrite, cleanup_old_files) → content + rowids
    * survive, layout compacted to one file. */
  private def qCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    lake.createTableAs("orders", t.orders)
    val n0 = t.orders.count()
    lake.delete("orders", col("o_orderstatus") === "F")
    lake.checkpoint("orders", Some(System.currentTimeMillis() + 60000))
    val files = lake.listFiles("orders").count()
    detached(lake, lake.tableWithRowId("orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("o_totalprice")), 100.0).as("total"),
        (countDistinct(col("rowid")) === count(lit(1)) &&
          min(col("rowid")) >= 0 && max(col("rowid")) < n0)
          .as("rowids_ok"),
        lit(files == 1L).as("compacted_ok"))
      .orderBy(col("o_orderstatus")))
  }
  private val qCheckpointSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS rowids_ok, TRUE AS compacted_ok
       |FROM orders WHERE o_orderstatus <> 'F'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** data inlining + flush: three small inserts live in the CATALOG
    * (zero data files), flush materializes them into parquet with rowids
    * preserved. */
  private def qFlushInlined(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("s"),
      (col("o_orderkey") % 3).as("b"))
    lake.createTable("t", src.schema)
    lake.setOption("data_inlining_row_limit", "1000000",
      table = Some("t"))
    (0L until 3L).foreach(r => lake.append("t", src.filter(col("b") === r)))
    val filesBefore = lake.listFiles("t").count()
    val inlinedRows = lake.table("t").count()
    lake.flushInlinedData("t")
    val filesAfter = lake.listFiles("t").count()
    detached(lake, lake.tableWithRowId("t")
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        (countDistinct(col("rowid")) === count(lit(1))).as("rowids_ok"),
        lit(filesBefore == 0L && inlinedRows > 0L).as("inlined_ok"),
        lit(filesAfter >= 1L).as("flushed_ok"))
      .orderBy(col("b")))
  }
  private val qFlushInlinedSql =
    """SELECT o_orderkey % 3 AS b, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sk,
      |  TRUE AS rowids_ok, TRUE AS inlined_ok, TRUE AS flushed_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** expire_snapshots + time travel: expire the first data snapshot;
    * the current read AND an AT VERSION read of a LIVE snapshot still
    * hash-match; travel to the expired snapshot now fails. */
  private def qExpireTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    lake.createTable("o", src.schema)
    lake.append("o", src.filter(col("o_orderkey") % 2 === 0))
    val v1 = lake.currentSnapshotId()
    lake.append("o", src.filter(col("o_orderkey") % 2 === 1))
    val v2 = lake.currentSnapshotId()
    lake.delete("o", col("o_orderstatus") === "F")
    val expired = lake.expireSnapshots(versions = Seq(v1))
    val travelGone =
      try { lake.tableAtVersion("o", v1).count(); false }
      catch { case _: IllegalArgumentException => true }
    def shape(df: DataFrame, tag: String) = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("o_totalprice")), 100.0).as("total"))
      .select(lit(tag).as("tag"), col("o_orderstatus"), col("n"),
        col("total"),
        lit(expired == Seq(v1)).as("expired_ok"),
        lit(travelGone).as("travel_gone_ok"))
    detached(lake,
      shape(lake.table("o"), "current")
        .unionAll(shape(lake.tableAtVersion("o", v2), "v2"))
        .orderBy(col("tag"), col("o_orderstatus")))
  }
  private val qExpireTravelSql =
    s"""SELECT 'current' AS tag, o_orderstatus, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS expired_ok, TRUE AS travel_gone_ok
       |FROM orders WHERE o_orderstatus <> 'F' GROUP BY 2
       |UNION ALL
       |SELECT 'v2' AS tag, o_orderstatus, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS expired_ok, TRUE AS travel_gone_ok
       |FROM orders GROUP BY 2
       |ORDER BY tag, o_orderstatus""".stripMargin

  /** sort-on-insert: SET SORTED BY (k DESC), append source-ordered rows,
    * prove every written file is internally ordered by the sort spec
    * (via the filename/file_row_number virtual columns) and the content
    * is untouched. */
  private def qSortedInsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey").as("k"),
      col("o_totalprice").as("p"))
    lake.createTable("t", src.schema)
    lake.setSortedBy("t", Seq(("k", "desc")))
    lake.append("t", src)
    val w = Window.partitionBy(col("filename"))
      .orderBy(col("file_row_number"))
    val rows = lake.tableWithRowId("t")
      .withColumn("prev_k", lag(col("k"), 1).over(w))
      .withColumn("ordered", col("prev_k").isNull ||
        col("k") <= col("prev_k"))
    detached(lake, rows.agg(count(lit(1)).as("n"),
      sum(col("k")).as("sk"),
      lsum(sl2(col("p")), 100.0).as("total"),
      allRows(col("ordered")).as("sorted_ok")))
  }
  private val qSortedInsertSql =
    s"""SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sk,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS sorted_ok
       |FROM orders""".stripMargin

  /** delete_orphaned_files + merge_adjacent_files + cleanup_old_files:
    * a planted orphan is detected and removed, compaction schedules the
    * replaced files, cleanup physically deletes them, content unchanged. */
  private def qOrphanCleanup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    lake.createTable("orders", src.schema)
    lake.append("orders", src.filter(col("o_orderkey") % 2 === 0))
    lake.append("orders", src.filter(col("o_orderkey") % 2 === 1))
    val preFiles = lake.listFiles("orders").count()
    // plant an orphan inside the table's data dir (a crashed write's
    // leftover — exactly what delete_orphaned_files exists to sweep)
    val orphanRel = "orders/orphan-planted.parquet"
    lake.io.write(orphanRel,
      "junk".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val orphans = lake.deleteOrphanedFiles("orders")
    val plantedSwept = orphans.exists(_.contains("orphan-planted")) &&
      !lake.io.exists(orphanRel)
    lake.mergeAdjacentFiles("orders")
    // compaction ENDS the replaced files but pre-merge snapshots still
    // reference them; only expiry schedules the physical deletion
    // (reference ducklake_expire_snapshots.cpp:32-155)
    lake.expireSnapshots(Some(System.currentTimeMillis() + 60000))
    val cleaned = lake.cleanupOldFiles(
      Some(System.currentTimeMillis() + 60000))
    detached(lake, lake.table("orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("o_totalprice")), 100.0).as("total"),
        lit(plantedSwept).as("orphan_swept_ok"),
        lit(cleaned.size == preFiles.toInt).as("cleanup_ok"))
      .orderBy(col("o_orderstatus")))
  }
  private val qOrphanCleanupSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS orphan_swept_ok, TRUE AS cleanup_ok
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** write-sizing options: per_thread_output=false collapses an append
    * to ONE file regardless of input parallelism; a tiny target_file_size
    * fans the same rows across MANY files; content identical either way. */
  private def qWriteSizing(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey"), col("o_totalprice"))
    lake.createTable("one", src.schema)
    lake.setOption("per_thread_output", "false", table = Some("one"))
    lake.append("one", src.repartition(4))
    val oneFiles = lake.listFiles("one").count()
    lake.createTable("many", src.schema)
    lake.setOption("target_file_size", "4096", table = Some("many"))
    // write sizing derives rows-per-file from OBSERVED bytes/row, so the
    // first (calibration) append lands as one file; the second append
    // then splits (reference sizes from existing table stats the same way)
    lake.append("many", src)
    lake.append("many", src)
    val manyFiles = lake.listFiles("many").count()
    def shape(tbl: String, tag: String, ok: Boolean) =
      lake.table(tbl).agg(count(lit(1)).as("n"),
          lsum(sl2(col("o_totalprice")), 100.0).as("total"))
        .select(lit(tag).as("tag"), col("n"), col("total"),
          lit(ok).as("files_ok"))
    detached(lake,
      shape("one", "one_file", oneFiles == 1L)
        // calibration file (fully deleted, still listed) + ≥2 splits
        .unionAll(shape("many", "many_files", manyFiles >= 3L))
        .orderBy(col("tag")))
  }
  private val qWriteSizingSql =
    s"""SELECT 'many_files' AS tag, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS files_ok
       |FROM (SELECT o_totalprice FROM orders
       |      UNION ALL SELECT o_totalprice FROM orders)
       |UNION ALL
       |SELECT 'one_file' AS tag, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS files_ok
       |FROM orders
       |ORDER BY tag""".stripMargin

  /** snapshots() metadata function: a scripted DDL/DML sequence produces
    * a deterministic snapshot trail — count, per-snapshot change
    * summaries, and the authored commit message all pinned against a
    * constant oracle (reference base_metadata_function.cpp:38-59;
    * summary strings follow the reference's snapshot-changes format). */
  private def qSnapshotsMeta(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.nation.select(col("n_nationkey"), col("n_name"))
    lake.createTable("n", src.schema)
    lake.append("n", src)
    lake.setCommitMessage("graft", "prune asia")
    lake.delete("n", col("n_nationkey") < 5)
    detached(lake, lake.snapshots()
      .select(col("snapshot_id"), col("changes"),
        coalesce(col("author"), lit("")).as("author"),
        coalesce(col("commit_message"), lit("")).as("msg"))
      .orderBy(col("snapshot_id")))
  }
  private val qSnapshotsMetaSql =
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), '{schemas_created=[main]}', '', ''),
      |  (CAST(1 AS BIGINT), '{tables_created=[main.n]}', '', ''),
      |  (CAST(2 AS BIGINT), '{tables_inserted_into=[1]}', '', ''),
      |  (CAST(3 AS BIGINT), '{tables_deleted_from=[1]}', 'graft',
      |   'prune asia')
      |) AS s(snapshot_id, changes, author, msg)
      |ORDER BY snapshot_id""".stripMargin

  /** table_info() metadata function (reference ducklake_table_info.test):
    * a scripted two-table lake with one delete produces a deterministic
    * (name, file_count, delete_file_count, record_count) readout, pinned
    * against a constant oracle — file SIZES stay out of the compare
    * (codec-dependent). */
  private def qTableInfo(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    lake.createTableAs("nat", t.nation.select(col("n_nationkey"),
      col("n_name")).coalesce(1))
    lake.createTable("reg", t.region.select(col("r_regionkey")).schema)
    lake.append("reg", t.region.select(col("r_regionkey")).coalesce(1))
    lake.append("reg", t.region.select(col("r_regionkey")).coalesce(1))
    lake.delete("nat", col("n_nationkey") < 5)
    detached(lake, lake.tableInfo()
      .select(col("table_name"), col("file_count"),
        col("delete_file_count"), col("record_count"))
      .orderBy(col("table_name")))
  }
  private val qTableInfoSql =
    """SELECT * FROM (
      |  SELECT 'nat' AS table_name, CAST(1 AS BIGINT) AS file_count,
      |    CAST(1 AS BIGINT) AS delete_file_count,
      |    (SELECT COUNT(*) - 5 FROM nation) AS record_count
      |  UNION ALL
      |  SELECT 'reg', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
      |    (SELECT COUNT(*) * 2 FROM region))
      |ORDER BY table_name""".stripMargin

  /** settings()/options() introspection (reference ducklake_settings
    * family): scoped sets read back with their scopes, pinned against a
    * constant oracle. */
  private def qSettings(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    lake.createTableAs("t", t.region.select(col("r_regionkey")))
    lake.setOption("parquet_compression", "zstd")
    lake.setOption("rewrite_delete_threshold", "0.5")
    lake.setOption("data_inlining_row_limit", "64")
    detached(lake, lake.settings()
      .filter(col("setting").isin("parquet_compression",
        "rewrite_delete_threshold", "data_inlining_row_limit",
        "sort_on_insert"))
      .orderBy(col("setting")))
  }
  private val qSettingsSql =
    """SELECT * FROM (VALUES
      |  ('data_inlining_row_limit', '64', '0'),
      |  ('parquet_compression', 'zstd', 'snappy'),
      |  ('rewrite_delete_threshold', '0.5', '0.95'),
      |  ('sort_on_insert', 'true', 'true')
      |) AS s(setting, value, default_value)
      |ORDER BY setting""".stripMargin

  /** rewrite_data_files (reference ducklake_compaction_functions.cpp:
    * 769-783, default delete threshold 0.95): three files each ~96%
    * deleted are rewritten — dead rows drop physically, the delete files
    * fold away, surviving rows and their rowids are intact. */
  private def qRewriteFiles(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    lake.createTable("o", src.schema)
    // three catalog files with interleaved keys so EVERY file crosses
    // the 95% threshold after the delete below
    (0 until 3).foreach(i =>
      lake.append("o", src.filter(col("o_orderkey") % 3 === i).coalesce(1)))
    lake.delete("o", col("o_orderkey") % 25 =!= 0) // keep 4% per file
    val rewritten = lake.rewriteDataFiles("o")
    val noDeletesLeft = lake.tableInfo()
      .filter(col("table_name") === "o")
      .head().getAs[Long]("delete_file_count") == 0L
    val n0 = src.count()
    detached(lake, lake.tableWithRowId("o")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("o_totalprice")), 100.0).as("total"),
        (countDistinct(col("rowid")) === count(lit(1)) &&
          min(col("rowid")) >= 0 && max(col("rowid")) < n0)
          .as("rowids_ok"),
        lit(rewritten == 3 && noDeletesLeft).as("rewrite_ok"))
      .orderBy(col("o_orderstatus")))
  }
  private val qRewriteFilesSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS rowids_ok, TRUE AS rewrite_ok
       |FROM orders WHERE o_orderkey % 25 = 0
       |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** set_commit_message + require_commit_message + current/
    * last_committed snapshot ids (reference ducklake_set_option.cpp,
    * snapshot info functions): an uncommented DML under
    * require_commit_message fails with the reference error, the
    * commented one lands author+message in snapshots(), and the id
    * readouts agree. */
  private def qCommitMsg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.region.select(col("r_regionkey"), col("r_name"))
    lake.createTableAs("r", src)
    lake.setOption("require_commit_message", "true")
    val err =
      try { lake.append("r", src.limit(1)); "" }
      catch { case e: IllegalStateException => e.getMessage }
    lake.setCommitMessage("alice", "second load")
    lake.append("r", src)
    val snapId = lake.currentSnapshotId()
    val lastMeta = lake.snapshots()
      .orderBy(col("snapshot_id").desc).limit(1)
      .select(col("author"), col("commit_message")).head()
    detached(lake, lake.table("r")
      .groupBy(col("r_name")).agg(count(lit(1)).as("n"))
      .withColumn("author", lit(lastMeta.getString(0)))
      .withColumn("msg", lit(lastMeta.getString(1)))
      .withColumn("required_err", lit(err))
      .withColumn("snap_ok",
        lit(snapId == lake.lastCommittedSnapshotId() && snapId > 0))
      .orderBy(col("r_name")))
  }
  private val qCommitMsgSql =
    """SELECT r_name, CAST(2 AS BIGINT) AS n, 'alice' AS author,
      |  'second load' AS msg,
      |  'Commit Information for the snapshot is required but has not been provided.'
      |    AS required_err,
      |  TRUE AS snap_ok
      |FROM region ORDER BY r_name""".stripMargin

  /** MERGE multi-update guard (reference ducklake_merge_into.cpp: a
    * target row matched by two source rows errors): duplicate source
    * keys raise the reference's exact error text and the target is
    * untouched. */
  private def qMergeGuard(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.nation.select(col("n_nationkey"), col("n_name"))
    lake.createTableAs("n", src)
    val dupSource = src.unionAll(src.limit(5)) // keys duplicated
    val err =
      try {
        lake.merge("n", dupSource, "n_nationkey",
          whenMatchedUpdate = Some(Map("n_name" -> lit("X"))))
        ""
      } catch { case e: IllegalStateException => e.getMessage }
    detached(lake, lake.table("n")
      .agg(count(lit(1)).as("n"),
        allRows(col("n_name") =!= "X").as("unchanged"))
      .withColumn("err", lit(err)))
  }
  private val qMergeGuardSql =
    """SELECT (SELECT COUNT(*) FROM nation) AS n, TRUE AS unchanged,
      |  'The same row was updated multiple times' AS err""".stripMargin

  /** Dynamic join-filter re-pruning as a VALUES oracle (round-11 advice:
    * the file-count assertion lived only in ScanPlanSpec): the dim side's
    * [min,max] envelope prunes the fact scan to ONE of three
    * disjoint-range files, and the join result over the pruned scan
    * hash-matches DuckDB computing the same join unpruned. */
  private def qJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"))
    lake.createTable("fact", src.schema)
    val ks = src.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (ks.getLong(0), ks.getLong(1))
    val third = (hi - lo) / 3 + 1
    (0 until 3).foreach { i =>
      lake.append("fact", src.filter(
        col("o_orderkey") >= lo + i * third &&
          col("o_orderkey") < lo + (i + 1) * third).coalesce(1))
    }
    // dim keys live entirely inside the middle file's range
    val dim = src.select(col("o_orderkey").as("k"))
      .filter(col("k") >= lo + third && col("k") < lo + third + third / 2)
    val pruned = lake.tableJoinPruned("fact", "o_orderkey",
      dim.select("k"))
    val nFiles = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    // only the lake side is materialized before the lake goes, so the
    // join stays in the returned plan; the dim side is a key-range slice
    // of orders: O(SF), bounded by it
    detached(lake, pruned)
      .join(boundedBroadcast(dim, t.bytesOf("orders")),
        col("o_orderkey") === col("k"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("o_totalprice")), 100.0).as("total"),
        lit(nFiles == 1).as("pruned_ok"))
  }
  private val qJoinPruneSql =
    s"""WITH b AS (SELECT MIN(o_orderkey) AS lo,
       |  (MAX(o_orderkey) - MIN(o_orderkey)) // 3 + 1 AS third
       |  FROM orders)
       |SELECT COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total,
       |  TRUE AS pruned_ok
       |FROM orders, b
       |WHERE o_orderkey >= lo + third
       |  AND o_orderkey < lo + third + third // 2""".stripMargin

  /** SQL CALL procedure surface end-to-end (reference ducklake's
    * ducklake_* table functions; Spark 4 ProcedureCatalog): set_option
    * with named args, merge_adjacent_files positional, checkpoint — then
    * the table content and compacted layout hash-checked like every
    * other maintenance oracle (ProcedureSpec covers the argument
    * binding; this row pins the end state against DuckDB). */
  private def qProcCall(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val cat = "gproc"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.alias", cat)
    graft.plans.LakeRegistry.register(cat, lake)
    try {
      val src = t.supplier.select(col("s_suppkey"), col("s_acctbal"))
      lake.createTable("s", src.schema)
      (0 until 4).foreach(i => lake.append("s",
        src.filter(col("s_suppkey") % 4 === i).coalesce(1)))
      spark.sql(s"CALL $cat.set_option(option_name => " +
        "'parquet_compression', value => 'zstd', table_name => 's')")
      val merged = spark.sql(s"CALL $cat.merge_adjacent_files('s')")
        .head().getLong(0)
      spark.sql(s"CALL $cat.checkpoint('s')").collect()
      val files = lake.listFiles("s").count()
      detached(lake, lake.table("s")
        .agg(count(lit(1)).as("n"),
          lsum(sl2(col("s_acctbal")), 100.0).as("total"),
          lit(merged > 0 && files == 1L).as("compacted_ok")))
    } finally graft.plans.LakeRegistry.unregister(cat)
  }
  private val qProcCallSql =
    s"""SELECT COUNT(*) AS n,
       |  ${oLsum(oSl2("s_acctbal"), "100.0")} AS total,
       |  TRUE AS compacted_ok
       |FROM supplier""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("lake_checkpoint", qCheckpoint, Some(qCheckpointSql)),
    QueryDef("lake_flush_inlined", qFlushInlined, Some(qFlushInlinedSql)),
    QueryDef("lake_expire_travel", qExpireTravel, Some(qExpireTravelSql)),
    QueryDef("lake_sorted_insert", qSortedInsert, Some(qSortedInsertSql)),
    QueryDef("lake_orphan_cleanup", qOrphanCleanup, Some(qOrphanCleanupSql)),
    QueryDef("lake_write_sizing", qWriteSizing, Some(qWriteSizingSql)),
    QueryDef("lake_snapshots_meta", qSnapshotsMeta, Some(qSnapshotsMetaSql)),
    QueryDef("lake_table_info", qTableInfo, Some(qTableInfoSql)),
    QueryDef("lake_settings", qSettings, Some(qSettingsSql)),
    QueryDef("lake_rewrite_files", qRewriteFiles, Some(qRewriteFilesSql)),
    QueryDef("lake_commit_msg", qCommitMsg, Some(qCommitMsgSql)),
    QueryDef("lake_merge_guard", qMergeGuard, Some(qMergeGuardSql)),
    QueryDef("lake_join_prune", qJoinPrune, Some(qJoinPruneSql)),
    QueryDef("lake_proc_call", qProcCall, Some(qProcCallSql)),
  )
}
