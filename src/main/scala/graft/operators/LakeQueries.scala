package graft.operators

import java.nio.file.Files

import graft.{QueryDef, QueryPack, Tables}
import graft.catalog.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lakehouse operator coverage for the driver's DuckDB gate (SURVEY.md
  * §2.1-2.6): every query ingests driver tables into a THROWAWAY lake
  * (embedded Derby catalog + parquet data dir), applies the operator under
  * test, and returns a result the oracle reproduces with plain SQL over the
  * original tables — so the correctness of ingest+scan+DML+time-travel+CDC+
  * compaction is hash-checked end to end.
  */
object LakeQueries extends QueryPack {

  /** Catalog backend for the throwaway oracle lakes. Default embedded
    * Derby; `SPARK_GRAFT_CATALOG=sqlite` swaps every oracle lake onto the
    * live SQLite backend, and `SPARK_GRAFT_CATALOG=jdbc:postgresql://…`
    * onto a shared PostgreSQL server (one METADATA_SCHEMA per lake, the
    * reference's transaction_schema sharing shape) — the FULL lake oracle
    * sweep (DVs, CDC, compaction, add_files, evolution …) then
    * hash-checks a non-Derby backend end to end. */
  private[operators] def freshLake(spark: SparkSession): Lake =
    Lake.attachEphemeral(spark,
      Files.createTempDirectory("graft-lakeq").toString)

  /** Materialize the result, then detach the throwaway lake, which shuts
    * its embedded catalog down and deletes its folder: a full verify/test
    * run attaches hundreds of throwaway lakes in one JVM, so leaving each
    * Derby instance booted exhausts the process fd limit (same lifecycle
    * the HTTP-catalog query demonstrates by stopping its server before
    * returning), and leaving each folder fills the temp disk. */
  private[operators] def detached(lake: Lake, df: => DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    lake.detach()
    out
  }

  /** ingest → scan round-trip (scan/insert operators, reference
    * ducklake_scan.cpp + ducklake_insert.cpp). */
  private def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("orders", Tables(spark, dir).orders)
    detached(lake, lake.table("orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")))
  }

  private val roundtripSql =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey"

  /** DELETE via positional delete files (reference ducklake_delete.cpp). */
  private def qDelete(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("orders", Tables(spark, dir).orders)
    lake.delete("orders", col("o_orderstatus") === "F")
    detached(lake, lake.table("orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey")))
  }

  private val qDeleteSql =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderstatus <> 'F' ORDER BY o_orderkey""".stripMargin

  /** UPDATE = delete + insert rewrite (reference ducklake_update.cpp). */
  private def qUpdate(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("orders", Tables(spark, dir).orders)
    lake.update("orders", Map("o_orderpriority" -> lit("0-UPDATED")),
      col("o_orderstatus") === "P")
    detached(lake, lake.table("orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey")))
  }

  private val qUpdateSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'P' THEN '0-UPDATED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** MERGE INTO: matched update + not-matched insert (reference
    * ducklake_merge_into.cpp). */
  private def qMerge(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("t", orders.filter(col("o_orderkey") % 2 === 0))
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    lake.merge("t", source, "o_orderkey",
      whenMatchedUpdate = Some(Map("o_totalprice" -> col("s.o_totalprice"))))
    detached(lake, lake.table("t")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")))
  }

  private val qMergeSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** MERGE with an ORDERED multi-clause WHEN MATCHED list — first
    * passing clause wins per row (reference binder action list,
    * ducklake_merge_into.cpp:489-634). */
  private def qMergeMulti(spark: SparkSession, dir: String): DataFrame = {
    import graft.catalog.{MatchedDelete, MatchedUpdate}
    val lake = freshLake(spark)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("t", orders.filter(col("o_orderkey") % 2 === 0))
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    lake.mergeMatched("t", source, "o_orderkey",
      matchedActions = Seq(
        MatchedDelete(Some(col("t.o_totalprice") < 50000)),
        MatchedUpdate(Map("o_totalprice" -> col("s.o_totalprice")),
          Some(col("t.o_totalprice") < 150000)),
        MatchedUpdate(Map("o_orderpriority" -> lit("9-MULTI")))),
      whenNotMatchedInsert = true)
    detached(lake, lake.table("t")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey")))
  }

  private val qMergeMultiSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |            AND o_totalprice >= 50000 AND o_totalprice < 150000
      |       THEN o_totalprice * 2
      |       WHEN o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0
      |       THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |            AND o_totalprice >= 150000
      |       THEN '9-MULTI' ELSE o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE (o_orderkey % 2 = 0
      |       AND NOT (o_orderkey % 3 = 0 AND o_totalprice < 50000))
      |   OR (o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0)
      |ORDER BY o_orderkey""".stripMargin

  /** Time travel AT VERSION (reference AT-clause resolution,
    * ducklake_transaction.cpp:1613-1645). */
  private def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("orders", Tables(spark, dir).orders)
    val v1 = lake.currentSnapshotId()
    lake.delete("orders", col("o_orderkey") % 2 === 0)
    detached(lake, lake.tableAtVersion("orders", v1)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")))
  }

  private val qTimeTravelSql =
    "SELECT o_orderkey FROM orders ORDER BY o_orderkey"

  /** CDC insertions diff (reference ducklake_table_insertions). */
  private def qCdcInsertions(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val orders = Tables(spark, dir).orders
    val cut = lit("1997-01-01").cast("timestamp")
    lake.createTableAs("orders", orders.filter(col("o_orderdate") < cut))
    val s1 = lake.currentSnapshotId()
    lake.append("orders", orders.filter(col("o_orderdate") >= cut))
    val s2 = lake.currentSnapshotId()
    detached(lake, lake.tableInsertions("orders", s1, s2)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")))
  }

  private val qCdcInsertionsSql =
    """SELECT o_orderkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  /** CDC deletions diff (reference ducklake_table_deletions). */
  private def qCdcDeletions(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("orders", Tables(spark, dir).orders)
    val s1 = lake.currentSnapshotId()
    lake.delete("orders", col("o_orderstatus") === "F")
    val s2 = lake.currentSnapshotId()
    detached(lake, lake.tableDeletions("orders", s1, s2)
      .select(col("o_orderkey")).orderBy(col("o_orderkey")))
  }

  private val qCdcDeletionsSql =
    """SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** Compaction preserves data + row identity (reference
    * ducklake_merge_adjacent_files). */
  private def qCompaction(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val t = Tables(spark, dir)
    lake.createTable("li",
      t.lineitem.schema)
    // 3 separate appends → multiple small files, then compact
    Seq("A", "N", "R").foreach { rf =>
      lake.append("li", t.lineitem.filter(col("l_returnflag") === rf))
    }
    lake.mergeAdjacentFiles("li")
    detached(lake, lake.table("li")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")))
  }

  private val qCompactionSql =
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Stats-based file pruning: files appended in disjoint date ranges, then
    * a filtered read that should touch one range (reference file-skipping,
    * ducklake_metadata_manager.cpp:1492-1593); result correctness is the
    * check here, file-count pruning is asserted in LakeSpec. */
  private def qPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val li = Tables(spark, dir).lineitem
    lake.createTable("li", li.schema)
    Seq((1995, 1997), (1997, 1999), (1999, 9999)).foreach { case (y0, y1) =>
      lake.append("li", li.filter(
        year(col("l_shipdate")) >= y0 && year(col("l_shipdate")) < y1))
    }
    detached(lake, lake.table("li",
      Some(col("l_shipdate") >= lit("1999-01-01").cast("timestamp")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")))
  }

  private val qPrunedScanSql =
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Schema evolution: add column; old rows read NULL, new rows carry
    * values (reference ALTER TABLE ADD COLUMN,
    * ducklake_table_entry.cpp:778-829). */
  private def qSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val part = Tables(spark, dir).part
    lake.createTableAs("p", part.select("p_partkey", "p_name"))
    lake.addColumn("p",
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.StringType))
    lake.append("p", part.select(
      (col("p_partkey") + 10000000L).as("p_partkey"), col("p_name"),
      lit("new").as("flag")))
    detached(lake, lake.table("p")
      .select(col("p_partkey"), col("flag"))
      .orderBy(col("p_partkey")))
  }

  private val qSchemaEvolutionSql =
    """SELECT p_partkey, CAST(NULL AS VARCHAR) AS flag FROM part
      |UNION ALL
      |SELECT p_partkey + 10000000, 'new' AS flag FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Struct-field access THROUGH schema evolution: a nested ADD FIELD +
    * RENAME FIELD later, files written under the old shape must still
    * resolve every field by id — pre-evolution rows read the new field
    * as NULL, renamed fields keep their data (reference
    * ducklake_field_data.cpp field-id trees + evolution tests
    * test/sql/alter/add_field*.test). The scan projects through the
    * struct (`info.segment`, `info.score`), so the epoch-mapped reader
    * must line up nested field ids across three file generations. */
  private def qNestedEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    val lake = freshLake(spark)
    val cust = Tables(spark, dir).customer
    lake.createTableAs("c", cust
      .select(col("c_custkey"),
        struct(col("c_mktsegment").as("segment")).as("info")))
    // generation 2: nested ADD FIELD info.score; old rows read NULL
    lake.addField("c", "info",
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType))
    lake.append("c", cust.select(
      (col("c_custkey") + 1000000L).as("c_custkey"),
      struct(col("c_mktsegment").as("segment"),
        (col("c_custkey") % 7).as("score")).as("info")))
    // generation 3: RENAME FIELD segment→seg (metadata-only), then one
    // more append under the new name
    lake.renameField("c", "info.segment", "seg")
    lake.append("c", cust.select(
      (col("c_custkey") + 2000000L).as("c_custkey"),
      struct(col("c_mktsegment").as("seg"),
        lit(99L).as("score")).as("info")))
    detached(lake, lake.table("c")
      .select(col("c_custkey"), col("info.seg").as("seg"),
        col("info.score").as("score"))
      .orderBy(col("c_custkey")))
  }

  private val qNestedEvolutionSql =
    """SELECT c_custkey, c_mktsegment AS seg, CAST(NULL AS BIGINT) AS score
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, c_mktsegment AS seg,
      |  c_custkey % 7 AS score FROM customer
      |UNION ALL
      |SELECT c_custkey + 2000000, c_mktsegment AS seg, 99 AS score
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** RENAME (top-level and nested) is metadata-only: files written under
    * the old names must still read their data via the column_id mapping
    * (reference ducklake_multi_file_reader.cpp field-id resolution). */
  private def qRenameMapping(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val part = Tables(spark, dir).part
    lake.createTableAs("p", part.select("p_partkey", "p_name", "p_size"))
    lake.renameColumn("p", "p_name", "part_name")
    // post-rename appends mix with pre-rename files in one scan
    lake.append("p", part.select(
      (col("p_partkey") + 10000000L).as("p_partkey"),
      col("p_name").as("part_name"), col("p_size")))
    lake.dropColumn("p", "p_size")
    detached(lake, lake.table("p")
      .select(col("p_partkey"), col("part_name"))
      .orderBy(col("p_partkey")))
  }

  private val qRenameMappingSql =
    """SELECT p_partkey, p_name AS part_name FROM part
      |UNION ALL
      |SELECT p_partkey + 10000000, p_name AS part_name FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Full SQL statement surface: DELETE / UPDATE / INSERT INTO ... SELECT
    * / SELECT routed through lake.sql (the reference's attach-and-run-SQL
    * experience, LakeSql front-end). */
  private def qSqlDml(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.createTableAs("o", Tables(spark, dir).orders
      .select("o_orderkey", "o_orderstatus", "o_orderpriority"))
    lake.sql("DELETE FROM o WHERE o_orderstatus = 'F'")
    lake.sql(
      "UPDATE o SET o_orderpriority = '0-SQL' WHERE o_orderstatus = 'P'")
    lake.sql(
      """INSERT INTO o
        |SELECT o_orderkey + 10000000, o_orderstatus, 'NEW'
        |FROM o WHERE o_orderstatus = 'O'""".stripMargin)
    detached(lake, lake.sql(
      "SELECT o_orderkey, o_orderpriority FROM o ORDER BY o_orderkey"))
  }

  private val qSqlDmlSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'P' THEN '0-SQL'
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderstatus <> 'F')
      |SELECT o_orderkey, o_orderpriority FROM base
      |UNION ALL
      |SELECT o_orderkey + 10000000, 'NEW' FROM base
      |WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin

  /** COUNT(*) answered from catalog metadata ([[Lake.fastCount]] +
    * LakeCountFromStats): counts at three snapshots — after ingest,
    * after a delete-file DELETE, after an inlined DELETE — through the
    * spark.sql fast path. Each plan is REQUIRED to be a LocalRelation,
    * so this gate row fails if the rewrite ever stops firing and the
    * values fail if the catalog arithmetic drifts from scan truth.
    * Reference analogue: COUNT(*) from footer metadata
    * (general/metadata_cache.test). */
  private def qFastCount(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft", lake)
    lake.createTableAs("o", Tables(spark, dir).orders)
    val v1 = lake.currentSnapshotId()
    lake.delete("o", col("o_orderstatus") === "F")
    val v2 = lake.currentSnapshotId()
    lake.setOption("data_inlining_row_limit", "500")
    lake.delete("o", col("o_orderkey") % 1000 === 0)
    def metaCount(sql: String): Long = {
      val df = spark.sql(sql)
      require(df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"COUNT(*) fast path did not fire for: $sql")
      df.head().getLong(0)
    }
    import spark.implicits._
    val out = Seq(
      ("after_file_delete",
        metaCount(s"SELECT COUNT(*) FROM graft.o VERSION AS OF $v2")),
      ("after_inline_delete", metaCount("SELECT COUNT(*) FROM graft.o")),
      ("all", metaCount(s"SELECT COUNT(*) FROM graft.o VERSION AS OF $v1")))
      .toDF("stage", "n").orderBy("stage")
    // counts were taken eagerly above; the result is a local DF
    graft.plans.LakeRegistry.unregister("graft")
    detached(lake, out)
  }

  private val qFastCountSql =
    """SELECT 'after_file_delete' AS stage, COUNT(*) AS n FROM orders
      |WHERE o_orderstatus <> 'F'
      |UNION ALL
      |SELECT 'after_inline_delete', COUNT(*) FROM orders
      |WHERE o_orderstatus <> 'F' AND o_orderkey % 1000 <> 0
      |UNION ALL
      |SELECT 'all', COUNT(*) FROM orders
      |ORDER BY stage""".stripMargin

  /** MIN/MAX answered from cumulative catalog stats (reference
    * min_max_optimization family): the metadata-only fold is ASSERTED
    * (LocalRelation plan, no scan) on the clean table, then a delete
    * disables the fold and the scan path returns the same exact answers
    * the oracle computes. */
  private def qFastExtrema(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft", lake)
    lake.createTableAs("o", Tables(spark, dir).orders)
    def run(sql: String, mustFold: Boolean) = {
      val df = spark.sql(sql)
      val folded = df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      require(folded == mustFold,
        s"MIN/MAX fold expected=$mustFold got=$folded for: $sql")
      df.head()
    }
    val clean = run(
      """SELECT MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
        |MIN(o_orderpriority) AS min_pri, MAX(o_orderpriority) AS max_pri,
        |COUNT(*) AS n FROM graft.o""".stripMargin, mustFold = true)
    lake.delete("o", col("o_orderkey") === clean.getLong(0))
    val afterDel = run(
      "SELECT MIN(o_orderkey) AS min_key, COUNT(*) AS n FROM graft.o",
      mustFold = false)
    import spark.implicits._
    val out = Seq(
      ("clean", clean.getLong(0), clean.getLong(1),
        clean.getLong(6)),
      ("after_delete", afterDel.getLong(0), clean.getLong(1),
        afterDel.getLong(1))).toDF("stage", "min_key", "max_key", "n")
      .withColumn("min_pri", lit(clean.getString(4)))
      .withColumn("max_pri", lit(clean.getString(5)))
      .orderBy("stage")
    graft.plans.LakeRegistry.unregister("graft")
    detached(lake, out)
  }

  private val qFastExtremaSql =
    """SELECT 'after_delete' AS stage,
      |  (SELECT MIN(o_orderkey) FROM orders
      |   WHERE o_orderkey <> (SELECT MIN(o_orderkey) FROM orders)) AS min_key,
      |  MAX(o_orderkey) AS max_key, COUNT(*) - 1 AS n,
      |  MIN(o_orderpriority) AS min_pri, MAX(o_orderpriority) AS max_pri
      |FROM orders
      |UNION ALL
      |SELECT 'clean', MIN(o_orderkey), MAX(o_orderkey), COUNT(*),
      |  MIN(o_orderpriority), MAX(o_orderpriority)
      |FROM orders
      |ORDER BY stage""".stripMargin

  /** Top-N file pruning (reference stats/topn_file_pruning.test): events
    * ingested as four range-clustered files; `ORDER BY ts DESC LIMIT
    * 100` through plain spark.sql must read ONLY the files that can
    * contribute (asserted in-plan) and return exactly the oracle's rows. */
  private def qTopNPrune(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft", lake)
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("user_id"))
      .withColumn("_us", expr("unix_micros(ts)"))
    // 4 disjoint ts ranges -> 4 files with disjoint [min,max] ts spans
    val bounds = ev.stat.approxQuantile("_us",
      Array(0.25, 0.5, 0.75), 0.0).map(_.toLong)
    val parts = Seq(
      ev.filter(col("_us") <= bounds(0)),
      ev.filter(col("_us") > bounds(0) && col("_us") <= bounds(1)),
      ev.filter(col("_us") > bounds(1) && col("_us") <= bounds(2)),
      ev.filter(col("_us") > bounds(2))).map(_.drop("_us"))
    lake.createTableAs("ev", parts.head.orderBy("ts").coalesce(1))
    parts.tail.foreach(p => lake.append("ev", p.orderBy("ts").coalesce(1)))
    val q = spark.sql(
      """SELECT event_id, ts, user_id FROM graft.ev
        |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    val total = lake.listFiles("ev").count()
    require(scanned < total,
      s"top-N pruning did not cut the file list ($scanned of $total)")
    val out = q.collect()
    import spark.implicits._
    graft.plans.LakeRegistry.unregister("graft")
    detached(lake, spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), q.schema))
  }

  private val qTopNPruneSql =
    """SELECT event_id, ts, user_id FROM events
      |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin

  /** Pure-spark.sql DDL lifecycle against the DSv2 catalog
    * ([[graft.sources.GraftTableCatalog]]): CREATE TABLE AS SELECT
    * populates a real lake table (V1-write fallback → distributed append
    * + stats + snapshot), INSERT INTO adds through the placeholder path,
    * DROP TABLE removes a second table, and the read back goes through
    * the pruned SQL scan. Mirrors the reference inheriting CTAS/DDL from
    * its host engine (ducklake_insert.cpp:49-78). */
  private def qSqlCtas(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft", lake)
    Tables(spark, dir).orders.createOrReplaceTempView("orders_src")
    spark.sql(
      """CREATE TABLE graft.o AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders_src WHERE o_orderstatus <> 'F'""".stripMargin)
    spark.sql(
      """INSERT INTO graft.o
        |SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |FROM graft.o WHERE o_orderstatus = 'P'""".stripMargin)
    spark.sql("CREATE TABLE graft.scratch AS SELECT 1 AS x")
    spark.sql("DROP TABLE graft.scratch")
    val out = detached(lake, spark.sql(
      """SELECT o_orderkey, o_totalprice FROM graft.o
        |ORDER BY o_orderkey""".stripMargin))
    graft.plans.LakeRegistry.unregister("graft")
    out
  }

  private val qSqlCtasSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderstatus <> 'F')
      |SELECT o_orderkey, o_totalprice FROM base
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_totalprice FROM base
      |WHERE o_orderstatus = 'P'
      |ORDER BY o_orderkey""".stripMargin

  /** Lake attached through the HTTP catalog service
    * ([[graft.catalog.HttpCatalogServer]] — the reference's quack
    * metadata backend re-expressed): every metadata statement of the
    * create/insert/delete sequence crosses the wire; data files go
    * straight to storage. The result is materialized, then the service
    * is stopped and the lake's folder deleted. */
  private def qHttpCatalog(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_http").toString
    val server = new graft.catalog.HttpCatalogServer(
      graft.catalog.MetadataManager.derbyUrl(s"$tmp/cat")).start()
    try {
      val lake = Lake.attach(spark, server.url, s"$tmp/data")
      lake.createTableAs("o",
        Tables(spark, dir).orders.select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderstatus") =!= "F"))
      lake.delete("o", col("o_totalprice") < 50000.0)
      lake.table("o")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")).localCheckpoint()
    } finally {
      server.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp)): Unit
    }
  }

  private val qHttpCatalogSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderstatus <> 'F' AND o_totalprice >= 50000.0
      |ORDER BY o_orderkey""".stripMargin

  /** Encrypted lake round-trip: data + delete files written with parquet
    * modular encryption (reference "encrypted" option), master key in the
    * catalog DB; the oracle reproduces results from the plaintext source. */
  private def qEncrypted(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.setOption("encrypted", "true")
    lake.createTableAs("orders", Tables(spark, dir).orders)
    lake.delete("orders", col("o_orderstatus") === "P")
    detached(lake, lake.table("orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")))
  }

  private val qEncryptedSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderstatus <> 'P' ORDER BY o_orderkey""".stripMargin

  /** DELETE via roaring deletion vectors instead of positional parquet
    * (reference write_deletion_vectors option / ducklake_deletion_vector). */
  private def qDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.setOption("write_deletion_vectors", "true")
    lake.createTableAs("orders", Tables(spark, dir).orders)
    lake.delete("orders", col("o_orderstatus") === "F")
    lake.delete("orders", col("o_orderkey") % 100 === 0) // union path
    detached(lake, lake.table("orders")
      .select(col("o_orderkey"))
      .orderBy(col("o_orderkey")))
  }

  private val qDeleteDvSql =
    """SELECT o_orderkey FROM orders
      |WHERE o_orderstatus <> 'F' AND o_orderkey % 100 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Storage-co-partitioned bucket join (Lake.bucketJoin): orders and
    * customer both bucket(8) on the customer key join shuffle-free —
    * every branch is a pruned per-bucket scan + broadcast join. Oracle is
    * the plain inner join. */
  private def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    lake.createTable("orders", t.orders.schema)
    lake.setPartitionedBy("orders", Seq(("o_custkey", "bucket(8)")))
    lake.append("orders", t.orders)
    lake.createTable("customer", t.customer.schema)
    lake.setPartitionedBy("customer", Seq(("c_custkey", "bucket(8)")))
    lake.append("customer", t.customer)
    detached(lake,
      lake.bucketJoin("orders", "o_custkey", "customer", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          lsum(sl2(col("o_totalprice")), 100.0).as("total"))
        .orderBy(col("c_mktsegment")))
  }

  private val qBucketJoinSql = {
    import graft.QueryDsl._
    s"""SELECT c_mktsegment, COUNT(*) AS n,
       |  ${oLsum(oSl2("o_totalprice"), "100.0")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  }

  /** Storage-partitioned join through the DSv2 read path
    * ([[graft.sources.GraftBucketedScan]]): both fact tables bucketed
    * `bucket(8)` on their join keys, read via a `spj = true` catalog so
    * the scans report KeyGroupedPartitioning and the join plans with zero
    * exchange (SpjScanSpec pins the plan shape; this oracle pins the
    * VALUES against DuckDB on the same logical data). The result is
    * collected before detach — bounded at one row per order priority —
    * because V2 scans resolve their file lists lazily at planning, unlike
    * the eager generic scan the other detached() oracles rely on. */
  private def qSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    lake.createTable("orders", t.orders.schema)
    lake.setPartitionedBy("orders", Seq(("o_orderkey", "bucket(8)")))
    lake.append("orders", t.orders)
    lake.createTable("lineitem", t.lineitem.schema)
    lake.setPartitionedBy("lineitem", Seq(("l_orderkey", "bucket(8)")))
    lake.append("lineitem", t.lineitem)
    val alias = s"spjq${System.nanoTime()}"
    val cat = s"${alias}c" // ≠ alias: reads must resolve via the V2 catalog
    graft.plans.LakeRegistry.register(alias, lake)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.alias", alias)
    spark.conf.set(s"spark.sql.catalog.$cat.spj", "true")
    val prev =
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.table(s"$cat.lineitem")
        .join(spark.table(s"$cat.orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          lsum(sl2(col("l_extendedprice")), 100.0).as("total"))
        .orderBy(col("o_orderpriority"))
      val rows = j.collect() // bounded: one row per order priority
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), j.schema)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
        prev.getOrElse("false"))
      graft.plans.LakeRegistry.unregister(alias)
      lake.detach()
    }
  }

  private val qSpjJoinSql = {
    import graft.QueryDsl._
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${oLsum(oSl2("l_extendedprice"), "100.0")} AS total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** Geometry end to end: WKB points written THROUGH the lake (x-range-
    * clustered so per-file bbox extents are disjoint), read back through
    * an `st_bbox_intersects` filter — the catalog's geo stats must PRUNE
    * the out-of-window files (asserted via the scan's input-file list)
    * and the surviving rows hash-match DuckDB recomputing the window on
    * the raw coordinates (reference
    * src/storage/statistics/ducklake_geo_stats.cpp +
    * test/sql/geo/ducklake_geometry_stats.test; DuckDB's spatial
    * extension is unavailable offline, so the oracle filters the stored
    * x/y doubles — same rows by construction). */
  private def qGeoPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GeoFunctions
    val t = Tables(spark, dir)
    val lake = freshLake(spark)
    val src = t.orders.select(col("o_orderkey").as("id"),
        (col("o_orderkey") % 100).cast("double").as("x"),
        // integer division: Spark's `/` on longs is double division
        expr("(o_orderkey DIV 100) % 100").cast("double").as("y"))
      .withColumn("g", GeoFunctions.stPoint(col("x"), col("y")))
    lake.createTable("geo", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.DoubleType),
      Lake.geometryField("g"))))
    lake.append("geo", src.repartitionByRange(8, col("x")))
    val total = lake.listFiles("geo").count()
    val filtered = lake.table("geo", Some(GeoFunctions.stBboxIntersects(
      col("g"), lit(10.0), lit(0.0), lit(19.5), lit(100.0))))
    val prunedOk = filtered.inputFiles.length < total
    detached(lake, filtered
      .groupBy((col("id") % 5).as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sid"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y").cast("long")).as("sy"),
        lit(prunedOk).as("pruned_ok"))
      .orderBy(col("grp")))
  }

  private val qGeoPruneSql =
    """WITH g AS (
      |  SELECT o_orderkey AS id,
      |    CAST(o_orderkey % 100 AS DOUBLE) AS x,
      |    CAST((o_orderkey // 100) % 100 AS DOUBLE) AS y
      |  FROM orders)
      |SELECT id % 5 AS grp, COUNT(*) AS n,
      |  CAST(SUM(id) AS BIGINT) AS sid,
      |  CAST(CAST(SUM(x) AS DOUBLE) AS BIGINT) AS sx,
      |  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS sy,
      |  TRUE AS pruned_ok
      |FROM g
      |WHERE x >= 10.0 AND x <= 19.5 AND y >= 0.0 AND y <= 100.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** VARIANT column lifecycle (reference ducklake_types.cpp:61 variant +
    * ducklake_variant_stats.cpp shredded-path stats): events.props parsed
    * into a Spark 4 VariantType column, `$.k` shredded as BIGINT so every
    * appended file carries per-path min/max in
    * `ducklake_file_variant_stats`, data range-clustered on k so the
    * catalog prunes non-matching files BEFORE Spark plans, filtered via
    * `variant_get`. The oracle replays with DuckDB JSON extraction. */
  private def qVariant(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        parse_json(col("props")).as("payload"))
    lake.createTable("ev", ev.schema)
    lake.setOption("variant_shredded_paths", "payload:$.k:bigint",
      table = Some("ev"))
    // range-cluster on the shredded path so per-file [min,max] are
    // disjoint and the k >= 90 filter prunes most files in the catalog
    lake.append("ev", ev.repartitionByRange(8,
      get_json_object(col("payload").cast("string"), "$.k").cast("long")))
    detached(lake, lake.table("ev",
      Some(variant_get(col("payload"), "$.k", "bigint") >= 90L))
      .select(col("event_id"),
        variant_get(col("payload"), "$.k", "bigint").as("k"))
      .orderBy(col("event_id")))
  }

  private val qVariantSql =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 90
      |ORDER BY event_id""".stripMargin

  /** Incremental materialized-view maintenance
    * ([[IncrementalView]]): a COUNT/exact-SUM summary of a lake table is
    * kept current from the CDC feed alone across an append, a
    * copy-on-write UPDATE (retract + add), and a DELETE — never
    * rescanning the base table. The oracle recomputes the final state
    * from scratch in DuckDB, so incremental == recompute is hash-checked
    * end to end. */
  private def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val lake = freshLake(spark)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("orders", orders)
    val sums = Seq("total_cents" -> sl2(col("o_totalprice")))
    val v0 = IncrementalView.materialize(lake, "orders", "mv",
      Seq("o_orderpriority"), sums)
    // delta workload: append shifted copies, double 'P' prices, delete
    lake.append("orders", orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    lake.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") * 2)),
      col("o_orderstatus") === "P")
    lake.delete("orders", col("o_orderkey") % 13 === 0)
    IncrementalView.refresh(lake, "orders", "mv",
      Seq("o_orderpriority"), sums, fromVersion = v0)
    detached(lake,
      IncrementalView.read(lake, "mv", Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority")))
  }

  private val qIncrementalAggSql = {
    import graft.QueryDsl._
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority,
       |         o_totalprice
       |  FROM orders WHERE o_orderkey % 7 = 0),
       |upd AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM base),
       |fin AS (SELECT * FROM upd WHERE o_orderkey % 13 <> 0)
       |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${oSl2("o_totalprice")}) AS BIGINT) AS total_cents
       |FROM fin GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** Streaming CDC source end-to-end ([[graft.streaming
    * .ChangeFeedStreamSource]]): full-history replay of a lake table's
    * change feed through `spark.readStream.format("graft")` (AvailableNow,
    * bounded 2-snapshot batches), landed in a memory sink and aggregated;
    * the oracle replays the same insert/delete history in SQL. */
  private def qStreamCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft_cdc", lake)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("o", orders.filter(col("o_orderkey") % 2 === 0))
    lake.append("o",
      orders.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 3 === 0))
    lake.delete("o", col("o_orderkey") % 7 === 0)
    val qn = s"cdc_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = spark.readStream.format("graft")
      .option("alias", "graft_cdc").option("table", "o")
      .option("maxSnapshotsPerTrigger", "2")
      .load()
      .select(col("change_type"), col("o_totalprice"))
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.plans.LakeRegistry.unregister("graft_cdc")
    detached(lake, spark.table(qn)
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(sl2(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("change_type")))
  }

  private val qStreamCdcSql = {
    import graft.QueryDsl._
    s"""WITH base AS (
       |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0),
       |ch AS (
       |  SELECT 'insert' AS change_type, o_totalprice FROM base
       |  UNION ALL
       |  SELECT 'delete' AS change_type, o_totalprice FROM base
       |  WHERE o_orderkey % 7 = 0)
       |SELECT change_type, COUNT(*) AS n,
       |  CAST(SUM(${oSl2("o_totalprice")}) AS BIGINT) AS total_cents
       |FROM ch GROUP BY change_type ORDER BY change_type""".stripMargin
  }

  /** Continuously-maintained materialized view: the CDC stream source
    * feeds [[IncrementalView.applyDelta]] through foreachBatch — the MV
    * is folded forward per micro-batch (2-snapshot batches here), never
    * recomputed. The oracle recomputes the final grouped state from
    * scratch, proving stream-maintained ≡ recompute. */
  private def qStreamMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val lake = freshLake(spark)
    graft.plans.LakeRegistry.register("graft_mv", lake)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("o", orders.filter(col("o_orderkey") % 2 === 0))
    val groups = Seq("o_orderpriority")
    val sums = Seq("total_cents" -> sl2(col("o_totalprice")))
    val v0 = IncrementalView.materialize(lake, "o", "mv", groups, sums)
    lake.append("o", orders.filter(col("o_orderkey") % 2 === 1))
    lake.delete("o", col("o_orderkey") % 5 === 0)
    val q = spark.readStream.format("graft")
      .option("alias", "graft_mv").option("table", "o")
      .option("startVersion", v0.toString)
      .option("maxSnapshotsPerTrigger", "2")
      .load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-smv-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IncrementalView.applyDelta(lake, "mv", groups, sums, batch)
        ()
      }
      .start()
    q.awaitTermination()
    graft.plans.LakeRegistry.unregister("graft_mv")
    detached(lake, IncrementalView.read(lake, "mv", groups)
      .orderBy(col("o_orderpriority")))
  }

  private val qStreamMvSql = {
    import graft.QueryDsl._
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${oSl2("o_totalprice")}) AS BIGINT) AS total_cents
       |FROM orders WHERE o_orderkey % 5 <> 0
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** Incremental dedup: only the rows INSERTED since the last dedup
    * snapshot are checked — content hashes of the delta anti-join the
    * prior corpus' hash set, then first-occurrence-wins within the delta.
    * At 100 TB this is THE dedup shape that matters: daily batches dedup
    * against an ever-growing corpus by shuffling only `delta + corpus
    * hash column` (16 B/row), never the corpus text. Composes the CDC
    * surface (tableInsertions), time travel (prior corpus AT v0), and
    * the hash-first dedup rule. */
  private def qIncrementalDedup(spark: SparkSession,
      dir: String): DataFrame = {
    val lake = freshLake(spark)
    val d = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    lake.createTableAs("docs", d.filter(col("doc_id") % 3 =!= 0))
    val v0 = lake.currentSnapshotId()
    // the new batch: fresh docs + shifted-id duplicates of existing text
    lake.append("docs",
      d.filter(col("doc_id") % 3 === 0).unionByName(
        d.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 =!= 0)
          .withColumn("doc_id", col("doc_id") + 100000L)))
    val v1 = lake.currentSnapshotId()
    val priorHashes = lake.tableAtVersion("docs", v0)
      .select(md5(col("text").cast("binary")).as("h")).distinct()
    val delta = lake.tableInsertions("docs", v0, v1)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    detached(lake, delta
      .join(priorHashes, Seq("h"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"))
      .orderBy(col("doc_id")))
  }

  private val qIncrementalDedupSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents
      |  WHERE doc_id % 5 = 0 AND doc_id % 3 <> 0),
      |cand AS (
      |  SELECT doc_id, md5(text) AS h FROM delta
      |  WHERE md5(text) NOT IN (SELECT DISTINCT md5(text) FROM corpus))
      |SELECT doc_id FROM (
      |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h
      |    ORDER BY doc_id) AS rn FROM cand)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Incremental NEAR-dup: the delta batch is checked for n-gram-Jaccard
    * near-duplicates AGAINST the prior snapshot's corpus
    * ([[graft.operators.Dedup.nearDupAgainst]]) — a shingle
    * inverted-index join, complete for any threshold > 0, composed with
    * CDC (tableInsertions) + time travel exactly like incremental_dedup.
    * The oracle is the quadratic delta × corpus Jaccard. */
  private def qIncrementalNearDup(spark: SparkSession,
      dir: String): DataFrame = {
    val lake = freshLake(spark)
    val d = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    lake.createTableAs("docs", d.filter(col("doc_id") % 3 =!= 0))
    val v0 = lake.currentSnapshotId()
    // the new batch: fresh docs + near-dup VARIANTS (one appended token)
    // of docs already in the index
    lake.append("docs",
      d.filter(col("doc_id") % 3 === 0).unionByName(
        d.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 =!= 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zz_near")).as("text"))))
    val v1 = lake.currentSnapshotId()
    val corpus = lake.tableAtVersion("docs", v0)
      .select(col("doc_id"), col("text"))
    val delta = lake.tableInsertions("docs", v0, v1)
      .select(col("doc_id"), col("text"))
    detached(lake,
      graft.operators.Dedup.nearDupAgainst(corpus, delta, "doc_id", "text")
        .orderBy(col("delta_id"), col("corpus_id")))
  }

  private val qIncrementalNearDupSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' zz_near' FROM documents
      |  WHERE doc_id % 4 = 0 AND doc_id % 3 <> 0),
      |shc AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, GREATEST(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))) AS s
      |  FROM corpus),
      |shd AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(0, GREATEST(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))) AS s
      |  FROM delta)
      |SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6)
      |    AS jacc
      |FROM shd a, shc b
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |ORDER BY delta_id, corpus_id""".stripMargin

  /** Extrema-aware incremental MV ([[IncrementalView.Extrema]]): MIN and
    * MAX columns maintained through deletes — insert-only groups fold
    * least/greatest, delete-touched groups partially recompute from a
    * dirty-group semi-join. The workload deletes rows across every
    * priority (retracting extremes) and appends shifted copies; the
    * oracle recomputes the final grouped state from scratch. */
  private def qMvExtrema(spark: SparkSession, dir: String): DataFrame = {
    import graft.QueryDsl._
    val lake = freshLake(spark)
    val orders = Tables(spark, dir).orders
    lake.createTableAs("o", orders)
    val groups = Seq("o_orderpriority")
    val sums = Seq("total_cents" -> sl2(col("o_totalprice")))
    val ext = IncrementalView.Extrema(
      mins = Seq("min_cents" -> sl2(col("o_totalprice"))),
      maxs = Seq("max_cents" -> sl2(col("o_totalprice"))))
    val v0 = IncrementalView.materialize(lake, "o", "mv", groups, sums, ext)
    lake.delete("o", col("o_orderkey") % 11 === 0)
    lake.append("o", orders.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
    IncrementalView.refresh(lake, "o", "mv", groups, sums, v0,
      extrema = ext)
    detached(lake, IncrementalView.read(lake, "mv", groups)
      .orderBy(col("o_orderpriority")))
  }

  private val qMvExtremaSql = {
    import graft.QueryDsl._
    s"""WITH fin AS (
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 11 <> 0
       |  UNION ALL
       |  SELECT o_orderpriority, o_totalprice FROM orders
       |  WHERE o_orderkey % 13 = 0)
       |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${oSl2("o_totalprice")}) AS BIGINT) AS total_cents,
       |  CAST(MIN(${oSl2("o_totalprice")}) AS BIGINT) AS min_cents,
       |  CAST(MAX(${oSl2("o_totalprice")}) AS BIGINT) AS max_cents
       |FROM fin GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** ducklake_add_data_files: the driver's supplier parquet registers
    * in place (no rewrite) into a table that WIDENS s_nationkey
    * int32→BIGINT and carries a column the file lacks — exercising the
    * reference's type-check lattice, the name-mapping scan path and
    * allow_missing (reference ducklake_add_data_files.cpp,
    * add_files_type_check_integer.test, add_files_missing_columns.test). */
  private def qAddFiles(spark: SparkSession, dir: String): DataFrame = {
    val lake = freshLake(spark)
    lake.sql("CREATE TABLE sup(s_suppkey BIGINT, s_name VARCHAR, " +
      "s_nationkey BIGINT, s_acctbal DOUBLE, extra VARCHAR)")
    // lake: pseudo-dirs have no raw file to register — materialize the
    // supplier table to a plain parquet file once (same pattern as
    // Tables.eventsRawPath)
    val foreign =
      if (!dir.startsWith("lake:")) s"$dir/supplier.parquet"
      else {
        val out = Files.createTempDirectory("graft-addfiles")
          .resolve("supplier.parquet")
        Tables(spark, dir).supplier.coalesce(1)
          .write.mode("overwrite").parquet(out.toString)
        val ls = Files.list(out)
        try ls.filter(_.toString.endsWith(".parquet"))
          .findFirst().get().toString
        finally ls.close()
      }
    lake.addDataFiles("sup", Seq(foreign), allowMissing = true)
    detached(lake, lake.table("sup")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("extra"))
      .orderBy(col("s_suppkey")))
  }

  private val qAddFilesSql =
    """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
      |  CAST(NULL AS VARCHAR) AS extra
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("lake_roundtrip", roundtrip, Some(roundtripSql)),
    QueryDef("lake_add_files", qAddFiles, Some(qAddFilesSql)),
    QueryDef("lake_bucket_join", qBucketJoin, Some(qBucketJoinSql)),
    QueryDef("lake_spj_join", qSpjJoin, Some(qSpjJoinSql)),
    QueryDef("lake_geo_prune", qGeoPrune, Some(qGeoPruneSql)),
    QueryDef("lake_delete", qDelete, Some(qDeleteSql)),
    QueryDef("lake_delete_dv", qDeleteDv, Some(qDeleteDvSql)),
    QueryDef("lake_update", qUpdate, Some(qUpdateSql)),
    QueryDef("lake_merge", qMerge, Some(qMergeSql)),
    QueryDef("lake_merge_multi", qMergeMulti, Some(qMergeMultiSql)),
    QueryDef("lake_time_travel", qTimeTravel, Some(qTimeTravelSql)),
    QueryDef("lake_cdc_insertions", qCdcInsertions, Some(qCdcInsertionsSql)),
    QueryDef("lake_cdc_deletions", qCdcDeletions, Some(qCdcDeletionsSql)),
    QueryDef("lake_compaction", qCompaction, Some(qCompactionSql)),
    QueryDef("lake_pruned_scan", qPrunedScan, Some(qPrunedScanSql)),
    QueryDef("lake_schema_evolution", qSchemaEvolution,
      Some(qSchemaEvolutionSql)),
    QueryDef("lake_rename_mapping", qRenameMapping, Some(qRenameMappingSql)),
    QueryDef("lake_nested_evolution", qNestedEvolution,
      Some(qNestedEvolutionSql)),
    QueryDef("lake_sql_dml", qSqlDml, Some(qSqlDmlSql)),
    QueryDef("lake_fast_count", qFastCount, Some(qFastCountSql)),
    QueryDef("lake_fast_extrema", qFastExtrema, Some(qFastExtremaSql)),
    QueryDef("lake_topn_prune", qTopNPrune, Some(qTopNPruneSql)),
    QueryDef("lake_sql_ctas", qSqlCtas, Some(qSqlCtasSql)),
    QueryDef("lake_http_catalog", qHttpCatalog, Some(qHttpCatalogSql)),
    QueryDef("lake_encrypted", qEncrypted, Some(qEncryptedSql)),
    QueryDef("lake_variant", qVariant, Some(qVariantSql)),
    QueryDef("lake_incremental_agg", qIncrementalAgg,
      Some(qIncrementalAggSql)),
    QueryDef("stream_cdc", qStreamCdc, Some(qStreamCdcSql)),
    QueryDef("stream_mv", qStreamMv, Some(qStreamMvSql)),
    QueryDef("incremental_dedup", qIncrementalDedup,
      Some(qIncrementalDedupSql)),
    QueryDef("incremental_near_dup", qIncrementalNearDup,
      Some(qIncrementalNearDupSql)),
    QueryDef("lake_mv_extrema", qMvExtrema, Some(qMvExtremaSql)),
  )
}
