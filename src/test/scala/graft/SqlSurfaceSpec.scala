package graft

import java.nio.file.Files

import graft.catalog._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** lake.sql(...) surface: tables as views + stored macro expansion
  * (reference macros/ test dir + view dialect storage). */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("virtual columns in SQL (reference virtualcolumns tests)") {
    val dir = Files.createTempDirectory("graftvc").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t",
      Seq(1, 2, 3).toDF("i").coalesce(1))
    // file_row_number: per-file ordinal, filterable
    assert(lake.sql("SELECT file_row_number FROM t ORDER BY 1").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(lake.sql(
      "SELECT file_row_number FROM t WHERE file_row_number = 1")
      .head().getLong(0) == 1L)
    // one data file → one distinct filename, under the data path
    assert(lake.sql("SELECT COUNT(DISTINCT filename) AS n FROM t")
      .head().getLong(0) == 1L)
    // rowid + snapshot_id virtual columns
    assert(lake.sql("SELECT COUNT(DISTINCT rowid) AS n FROM t")
      .head().getLong(0) == 3L)
    assert(lake.sql("SELECT MAX(snapshot_id) AS s FROM t")
      .head().getLong(0) >= 1L)
    // plain star stays clean: no virtual columns leak
    assert(lake.sql("SELECT * FROM t").columns.toSeq == Seq("i"))
    // PRAGMA database_size analog (reference general/database_size.test)
    val sz = lake.sql(
      "SELECT database_size FROM database_size()").head().getLong(0)
    assert(sz > 0L, s"database_size must be > 0 bytes, got $sz")
  }

  test("reserved inlined-system column names (reference reserved_names)") {
    val dir = Files.createTempDirectory("graftrn").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.setOption("data_inlining_row_limit", "20")
    val e = intercept[IllegalArgumentException] {
      lake.sql("CREATE TABLE conflict (id INT, " +
        "_ducklake_internal_snapshot_id INT)")
    }
    assert(e.getMessage.contains(
      "\"_ducklake_internal_snapshot_id\" is reserved by DuckLake"))
    // enabling inlining on a table with a conflicting column also fails
    lake.setOption("data_inlining_row_limit", "0")
    lake.createTable("c2", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("row_id",
        org.apache.spark.sql.types.LongType))))
    val e2 = intercept[IllegalArgumentException] {
      lake.setOption("data_inlining_row_limit", "20", table = Some("c2"))
    }
    assert(e2.getMessage.contains("Cannot enable data inlining"))
    // with inlining off, the names are allowed (reference parity)
    lake.createTable("ok", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("begin_snapshot",
        org.apache.spark.sql.types.LongType))))
  }

  test("sql() queries views transparently, nested views included") {
    val dir = Files.createTempDirectory("graftvw").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("base", Seq((1, 10), (2, 20), (3, 30)).toDF("k", "x"))
    lake.createView("v_big", "SELECT k, x FROM base WHERE x >= 20")
    lake.createView("v_sum2", "SELECT SUM(x) AS s FROM v_big")
    // view + nested view resolve like tables (reference view entry)
    assert(lake.sql("SELECT COUNT(*) AS n FROM v_big").head().getLong(0)
      == 2L)
    assert(lake.sql("SELECT s FROM v_sum2").head().getLong(0) == 50L)
    // view joined with a table
    assert(lake.sql(
      "SELECT COUNT(*) AS n FROM base b JOIN v_big v ON b.k = v.k")
      .head().getLong(0) == 2L)
  }

  test("sql() queries lake tables; macros expand at call sites") {
    val dir = Files.createTempDirectory("graftsql").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("sales",
      Seq((1, 100.0), (2, 200.0), (3, 300.0)).toDF("id", "amount"))
    val direct = lake.sql(
      "SELECT SUM(amount) AS s FROM sales WHERE id >= 2")
    assert(direct.head().getDouble(0) == 500.0)

    lake.createMacro("with_tax", Seq("x"), "x * 1.1")
    val viaMacro = lake.sql(
      "SELECT SUM(with_tax(amount)) AS s FROM sales")
    assert(math.abs(viaMacro.head().getDouble(0) - 660.0) < 1e-9)

    // macro inside a bigger expression; multiple call sites
    val multi = lake.sql(
      "SELECT with_tax(amount) AS a, CAST(with_tax(100) AS DOUBLE) AS b FROM sales WHERE id = 1")
    val row = multi.head()
    assert(math.abs(row.getDouble(0) - 110.0) < 1e-9)
    assert(math.abs(row.getDouble(1) - 110.0) < 1e-9)

    // DML through the lake then re-query via sql()
    lake.delete("sales", col("id") === 1)
    assert(lake.sql("SELECT COUNT(*) AS n FROM sales").head().getLong(0) == 2)
  }

  test("generated columns are rejected (reference generated_columns.test)") {
    val dir = Files.createTempDirectory("graftgen").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    val e = intercept[IllegalArgumentException](
      lake.sql("CREATE TABLE t0 (c0 INT AS (1), c1 INT)"))
    assert(e.getMessage.contains("does not support"))
    val e2 = intercept[IllegalArgumentException](
      lake.sql("CREATE TABLE t0 (c0 INT AS (c1 + 1) VIRTUAL, c1 INT)"))
    assert(e2.getMessage.contains("does not support"))
    // plain parenthesized defaults still parse
    lake.sql("CREATE TABLE t1 (c0 INT, c1 DECIMAL(10,2))")
    assert(lake.table("t1").columns.toSeq == Seq("c0", "c1"))
  }

  test("SQL DML statements route to the lake API") {
    val dir = Files.createTempDirectory("graftsqldml").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.sql("CREATE TABLE t (id BIGINT NOT NULL, v STRING, amt DOUBLE DEFAULT 0)")
    assert(lake.sql("INSERT INTO t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
      .head().getLong(0) == 2)
    lake.sql("INSERT INTO t (id, v, amt) SELECT id + 10, v, amt * 2 FROM t")
    assert(lake.sql("SELECT COUNT(*) AS n FROM t").head().getLong(0) == 4)
    assert(lake.sql("UPDATE t SET v = upper(v) WHERE id > 10")
      .head().getLong(0) == 2)
    assert(lake.sql("SELECT v FROM t WHERE id = 11").head().getString(0)
      == "A")
    assert(lake.sql("DELETE FROM t WHERE id > 10").head().getLong(0) == 2)
    assert(lake.sql("SELECT COUNT(*) AS n FROM t").head().getLong(0) == 2)

    // CTAS + DROP
    lake.sql("CREATE TABLE t2 AS SELECT id, amt FROM t WHERE id = 1")
    assert(lake.sql("SELECT COUNT(*) AS n FROM t2").head().getLong(0) == 1)
    lake.sql("DROP TABLE t2")
    intercept[Exception](lake.table("t2").count())

    // ALTER: rename/add/drop/type/default/not-null
    lake.sql("ALTER TABLE t RENAME COLUMN v TO label")
    assert(lake.sql("SELECT label FROM t WHERE id = 1").head().getString(0)
      == "a")
    lake.sql("ALTER TABLE t ADD COLUMN tag STRING DEFAULT 'none'")
    assert(lake.sql("SELECT tag FROM t WHERE id = 1").head().getString(0)
      == "none")
    lake.sql("ALTER TABLE t DROP COLUMN tag")
    assert(!lake.schemaOf("t").fieldNames.contains("tag"))
    lake.sql("ALTER TABLE t ALTER COLUMN id SET NOT NULL")
    lake.sql("ALTER TABLE t RENAME TO sales2")
    assert(lake.sql("SELECT COUNT(*) AS n FROM sales2").head().getLong(0) == 2)
  }

  test("AT (VERSION => v) time-travel clause in SQL") {
    val dir = Files.createTempDirectory("graftsqlat").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tt", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = lake.currentSnapshotId()
    lake.sql("DELETE FROM tt WHERE id = 2")
    assert(lake.sql("SELECT COUNT(*) AS n FROM tt").head().getLong(0) == 1)
    assert(lake.sql(s"SELECT COUNT(*) AS n FROM tt AT (VERSION => $v1)")
      .head().getLong(0) == 2)
    // joins between current and historical versions of the same table
    val gone = lake.sql(
      s"""SELECT o.id FROM tt AT (VERSION => $v1) o
         |LEFT ANTI JOIN tt c ON o.id = c.id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(gone == Seq(2L))
  }

  test("AT (TIMESTAMP => …) takes a quoted local timestamp or epoch " +
      "milliseconds") {
    val dir = Files.createTempDirectory("graftsqlts").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tt", Seq(1L).toDF("id"))
    val created = lake.snapshots().orderBy(desc("snapshot_id")).head()
      .getTimestamp(1)
    Thread.sleep(5)
    lake.sql("INSERT INTO tt VALUES (2)")
    def count(at: String): Long = lake.sql(
      s"SELECT COUNT(*) AS n FROM tt AT (TIMESTAMP => $at)").head().getLong(0)
    assert(count(s"'$created'") == 1L)
    assert(count(created.getTime.toString) == 1L)
    assert(count(s"${created.getTime + 60000L}") == 2L)
    lake.detach()
  }

  test("views time-travel through to their base tables " +
      "(reference time_travel_views.test)") {
    val dir = Files.createTempDirectory("graftsqlvtt").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.sql("CREATE TABLE test (i INTEGER, j INTEGER)")
    val vNoView = lake.currentSnapshotId()
    lake.createView("v1",
      "SELECT i * 100 AS i, j * 100 AS j FROM test ORDER BY i, j")
    val vEmpty = lake.currentSnapshotId()
    lake.sql("INSERT INTO test VALUES (1, 2), (2, 3)")
    val vTwo = lake.currentSnapshotId()
    lake.sql("INSERT INTO test VALUES (3, 4), (5, 6)")
    assert(lake.sql("SELECT COUNT(*) AS n FROM v1").head().getLong(0) == 4)
    // the view did not exist yet → clean error
    val e = intercept[IllegalArgumentException](
      lake.sql(s"SELECT * FROM v1 AT (VERSION => $vNoView)").collect())
    assert(e.getMessage.contains(s"does not exist at version $vNoView"))
    // at creation time: view exists, base table empty
    assert(lake.sql(s"SELECT COUNT(*) AS n FROM v1 AT (VERSION => $vEmpty)")
      .head().getLong(0) == 0)
    // after the first insert: the view sees two rows ×100
    assert(lake.sql(
      s"SELECT i, j FROM v1 AT (VERSION => $vTwo) ORDER BY i")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((100, 200), (200, 300)))
    // pinned-view evaluation is ISOLATED: a user temp view named after
    // the base table is neither clobbered nor left version-pinned
    Seq(999).toDF("marker").createOrReplaceTempView("test")
    assert(lake.sql(s"SELECT COUNT(*) AS n FROM v1 AT (VERSION => $vTwo)")
      .head().getLong(0) == 2)
    assert(spark.table("test").columns.toSeq == Seq("marker"))
    spark.catalog.dropTempView("test")
  }

  test("metadata table functions in FROM position") {
    val dir = Files.createTempDirectory("graftsqlfn").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = lake.currentSnapshotId()
    lake.sql("DELETE FROM t WHERE id = 1")
    val s2 = lake.currentSnapshotId()

    assert(lake.sql("SELECT COUNT(*) AS n FROM snapshots()")
      .head().getLong(0) >= 3)
    assert(lake.sql(
      "SELECT record_count FROM table_info() WHERE table_name = 't'")
      .head().getLong(0) == 1)
    assert(lake.sql("SELECT COUNT(*) AS n FROM list_files('t')")
      .head().getLong(0) >= 1)
    val changes = lake.sql(
      s"SELECT change_type, COUNT(*) AS n FROM table_changes('t', $s1, $s2) " +
        "GROUP BY change_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes == Map("delete" -> 1L))
    assert(lake.sql(
      "SELECT value FROM settings() WHERE setting = 'encrypted'")
      .head().getString(0) == "false")
  }

  test("metadata query logging (ducklake_metadata_logging.test)") {
    val dir = Files.createTempDirectory("graftlog").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.sql("CALL enable_logging('DuckLakeMetadata')")
    lake.createTableAs("lg", Seq((1, "hello"), (2, "world")).toDF("id", "v"))
    assert(lake.sql("SELECT COUNT(*) AS n FROM lg").head().getLong(0) == 2)
    // logs were generated, the catalog column matches, latency is sane,
    // queries are non-empty — the reference's four assertions
    val log = lake.sql("SELECT * FROM metadata_log()")
    assert(log.count() > 0)
    assert(log.filter(col("catalog") =!= lake.meta.jdbcUrl).count() == 0)
    assert(log.filter(col("elapsed_ms") < 0).count() == 0)
    assert(log.filter(col("query").isNull ||
      length(col("query")) === 0).count() == 0)
    // disable clears and stops recording
    lake.sql("CALL disable_logging()")
    lake.append("lg", Seq((3, "x")).toDF("id", "v"))
    assert(lake.metadataLog().count() == 0)
  }

  test("maintenance functions via CALL") {
    val dir = Files.createTempDirectory("graftsqlcall").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", Seq((1L, "a")).toDF("id", "v"))
    lake.sql("INSERT INTO t VALUES (2, 'b')")
    lake.sql("INSERT INTO t VALUES (3, 'c')")
    assert(lake.sql("SELECT COUNT(*) AS n FROM list_files('t')")
      .head().getLong(0) == 3)
    assert(lake.sql("CALL merge_adjacent_files('t')").head().getLong(0) == 1)
    assert(lake.sql("SELECT COUNT(*) AS n FROM list_files('t')")
      .head().getLong(0) == 1)
    assert(lake.table("t").count() == 3)
    lake.sql("CALL set_option('target_file_size', '1000000', 't')")
    assert(lake.options().exists(_._1 == "target_file_size"))
    lake.sql("CALL checkpoint('t')")
    assert(lake.table("t").count() == 3)
    // name-only invocation (reference procedures take table_name as a
    // named parameter too): splits 3 files back to 1 after more inserts
    lake.sql("INSERT INTO t VALUES (4, 'd')")
    lake.sql("INSERT INTO t VALUES (5, 'e')")
    assert(lake.sql("CALL merge_adjacent_files(table_name => 't')")
      .head().getLong(0) == 1)
    assert(lake.sql("SELECT COUNT(*) AS n FROM list_files('t')")
      .head().getLong(0) == 1)
    // named table + named knob together
    lake.sql("INSERT INTO t VALUES (6, 'f')")
    assert(lake.sql("CALL merge_adjacent_files(table_name => 't', " +
      "max_compacted_files => 2)").head().getLong(0) == 1)
    // a missing table argument errors clearly instead of an index crash
    val e = intercept[IllegalArgumentException](
      lake.sql("CALL merge_adjacent_files(max_compacted_files => 2)"))
    assert(e.getMessage.contains("requires a table argument"))
    assert(lake.table("t").count() == 6)
    // bare CHECKPOINT sweeps every table IN EVERY SCHEMA and skips views
    // (reference view_checkpoint.test); inside a txn it is a no-op and
    // the txn's buffered inserts still commit
    // (checkpoint_updates_interleaved.test)
    lake.sql("CREATE VIEW tv AS SELECT id FROM t")
    lake.createSchema("aux")
    lake.createTableAs("aux.t2", (1 to 3).toDF("i"))
    lake.sql("INSERT INTO aux.t2 VALUES (4)")
    lake.sql("CHECKPOINT")
    assert(lake.table("t").count() == 6)
    // the non-main table was compacted by the sweep (2 files → 1)
    assert(lake.listFiles("aux.t2").count() == 1)
    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (7, 'g')")
    lake.sql("CHECKPOINT")
    lake.sql("INSERT INTO t VALUES (8, 'h')")
    lake.sql("COMMIT")
    assert(lake.table("t").count() == 8)
    assert(lake.sql("SELECT COUNT(*) AS n FROM tv").head().getLong(0) == 8)
  }

  test("bare CALL flush_inlined_data() sweeps every table; " +
      "table_name => names one (data_inlining_flush.test)") {
    val dir = Files.createTempDirectory("graftflushall").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.setOption("data_inlining_row_limit", "10")
    lake.createTable("a", Seq((1, "x")).toDF("id", "v").schema)
    lake.createTable("b", Seq((1, "x")).toDF("id", "v").schema)
    lake.append("a", Seq((1, "x"), (2, "y")).toDF("id", "v"))
    lake.append("b", Seq((3, "z")).toDF("id", "v"))
    assert(lake.listFiles("a").count() == 0)
    assert(lake.sql("CALL flush_inlined_data(table_name => 'a')")
      .head().getLong(0) == 2L)
    assert(lake.listFiles("a").count() == 1)
    assert(lake.listFiles("b").count() == 0)
    // bare call sweeps the rest
    assert(lake.sql("CALL flush_inlined_data()").head().getLong(0) == 1L)
    assert(lake.listFiles("b").count() == 1)
    assert(lake.table("a").count() == 2 && lake.table("b").count() == 1)
  }

  test("MERGE with a compound ON key (test_rewrite_partitioning.test " +
      "upsert shape) and rewrite_data_files max_compacted_files") {
    val dir = Files.createTempDirectory("graftmergec").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("p",
      Seq((1, 1, 10), (1, 2, 20), (2, 1, 100), (2, 2, 200))
        .toDF("part_key", "id", "value"))
    lake.sql("""MERGE INTO p AS target
      |USING (SELECT 1 AS part_key, 1 AS id, 15 AS value
      |       UNION ALL SELECT 1, 3, 30
      |       UNION ALL SELECT 2, 1, 150
      |       UNION ALL SELECT 2, 3, 300) AS source
      |ON (target.part_key = source.part_key AND target.id = source.id)
      |WHEN MATCHED THEN UPDATE SET value = source.value
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lake.table("p").orderBy("part_key", "id")
      .as[(Int, Int, Int)].collect().toSeq ==
      Seq((1, 1, 15), (1, 2, 20), (1, 3, 30),
        (2, 1, 150), (2, 2, 200), (2, 3, 300)))
    // rewrite with max_compacted_files handles candidates incrementally
    // (reference test_rewrite_max_files.test): two fully-dead files,
    // capped call processes one, next call takes the rest
    lake.createTableAs("r", Seq(1).toDF("k").coalesce(1))
    lake.append("r", Seq(2).toDF("k").coalesce(1))
    lake.sql("DELETE FROM r")
    assert(lake.sql(
      "CALL rewrite_data_files('r', delete_threshold => 0.99, " +
        "max_compacted_files => 1)").head().getLong(0) == 1L)
    assert(lake.sql(
      "CALL rewrite_data_files('r', delete_threshold => 0.99)")
      .head().getLong(0) == 1L)
    assert(lake.table("r").count() == 0)
    assert(lake.table("p").count() == 6)
  }

  test("MERGE INTO statement (update + insert)") {
    val dir = Files.createTempDirectory("graftsqlmrg").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tgt", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    lake.createTableAs("src", Seq((2L, 99.0), (3L, 30.0)).toDF("k", "x"))
    lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN MATCHED THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("MERGE INTO with action conditions and NOT MATCHED BY SOURCE") {
    val dir = Files.createTempDirectory("graftsqlmrg2").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tgt",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"))
    lake.createTableAs("src", Seq((1L, 5.0), (2L, 99.0)).toDF("k", "x"))
    // gated update: only the row where the source value is bigger moves
    lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN MATCHED AND s.x > tgt.x THEN UPDATE SET x = s.x""".stripMargin)
    assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    // not-matched-by-source delete drops rows the source no longer has
    lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (2L, 99.0)))
  }

  test("MERGE INTO with MULTIPLE WHEN MATCHED clauses in order") {
    val dir = Files.createTempDirectory("graftsqlmrg3").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tgt",
      Seq((1L, 5.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"))
    lake.createTableAs("src",
      Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 4.0)).toDF("k", "x"))
    // first-match-wins: k=1 (x=5) deletes on the first clause even
    // though the second's condition would also pass; k=2 takes the
    // conditioned update; k=3 the fallback; k=4 inserts
    lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN MATCHED AND tgt.x < 10 THEN DELETE
        |WHEN MATCHED AND tgt.x < 25 THEN UPDATE SET x = tgt.x + 1
        |WHEN MATCHED THEN UPDATE SET x = 0
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((2L, 21.0), (3L, 0.0), (4L, 4.0)))
  }

  test("MERGE combines a conditional clause with a later clause") {
    // regression: a lazy whole-statement regex read the UPDATE's AND
    // condition straight through the NOT MATCHED BY SOURCE clause and
    // rejected this valid statement as "two MATCHED actions"
    val dir = Files.createTempDirectory("graftsqlmrg3").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tgt",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"))
    lake.createTableAs("src", Seq((2L, 99.0), (4L, 40.0)).toDF("k", "x"))
    lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN MATCHED AND s.x > tgt.x THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((2L, 99.0)))
  }

  test("MERGE INSERT with a column list; absent columns read defaults") {
    val dir = Files.createTempDirectory("graftsqlmrg4").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.sql("CREATE TABLE t (k BIGINT, v STRING, amt DOUBLE DEFAULT 7)")
    lake.sql("INSERT INTO t VALUES (1, 'a', 1.0)")
    lake.createTableAs("src", Seq((1L, "x"), (5L, "y")).toDF("k", "v"))
    lake.sql(
      """MERGE INTO t USING src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, upper(s.v))""".stripMargin)
    val got = lake.table("t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 1.0), (5L, "Y", 7.0)))
  }

  test("nested field DDL through SQL") {
    val dir = Files.createTempDirectory("graftsqlnst").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType))))))
    lake.createTable("n", schema)
    lake.append("n", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Row(7, "x"))), 1), schema))
    lake.sql("ALTER TABLE n RENAME COLUMN st.b TO label")
    assert(lake.sql("SELECT st.label AS l FROM n").head().getString(0) == "x")
    lake.sql("ALTER TABLE n ADD FIELD st.c INT")
    assert(lake.sql("SELECT st.c AS c FROM n").head().isNullAt(0))
    lake.sql("ALTER TABLE n DROP COLUMN st.label")
    val st = lake.schemaOf("n")("st").dataType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq == Seq("a", "c"))
  }

  test("DESCRIBE / SHOW TABLES / SHOW VIEWS (reference host-engine introspection)") {
    val dir = Files.createTempDirectory("graftdesc").toString
    val lake = Lake.attach(spark, s"$dir/catalog", s"$dir/data")
    lake.sql("CREATE TABLE t1 (a INTEGER, b VARCHAR DEFAULT 'x')")
    lake.sql("ALTER TABLE t1 ALTER a SET NOT NULL")
    lake.sql("CREATE TABLE t2 (z BIGINT)")
    lake.sql("CREATE VIEW v1 AS SELECT a FROM t1")
    val d = lake.sql("DESCRIBE t1").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(4)))
    assert(d.toSeq == Seq(
      ("a", "INTEGER", "NO", null),
      ("b", "VARCHAR", "YES", "'x'")) ||
      d.toSeq == Seq(
        ("a", "INTEGER", "NO", null),
        ("b", "VARCHAR", "YES", "x")))
    assert(lake.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq ==
      Seq("t1", "t2"))
    assert(lake.sql("SHOW VIEWS").collect().map(_.getString(0)).toSeq ==
      Seq("v1"))
    val dv = lake.sql("DESC v1").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(dv.toSeq == Seq(("a", "INTEGER")))
    // schema-scoped
    lake.sql("CREATE SCHEMA aux")
    lake.sql("CREATE TABLE aux.t3 (q INTEGER)")
    assert(lake.sql("SHOW TABLES FROM aux").collect()
      .map(_.getString(0)).toSeq == Seq("t3"))
    assert(lake.sql("DESCRIBE aux.t3").collect().map(_.getString(0))
      .toSeq == Seq("q"))
  }

  test("MERGE … THEN INSERT in DuckDB's bare spelling inserts every column") {
    val dir = Files.createTempDirectory("graftsqlmrg5").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("tgt", Seq((1L, 10.0)).toDF("k", "x"))
    lake.createTableAs("src", Seq((1L, 11.0), (2L, 20.0)).toDF("k", "x"))
    assert(lake.sql(
      """MERGE INTO tgt USING src s ON tgt.k = s.k
        |WHEN NOT MATCHED THEN INSERT""".stripMargin).head().getLong(0) == 1L)
    assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (2L, 20.0)))
    lake.detach()
  }

  test("lake.sql leaves the session's temp views as they were") {
    val dir = Files.createTempDirectory("graftsqltv").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = lake.currentSnapshotId()
    lake.createView("tv", "SELECT id, v FROM t WHERE id > 1")
    val v2 = lake.currentSnapshotId()
    lake.sql("INSERT INTO t VALUES (3, 'c')")
    def tempViews: Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    def same[A](what: String)(body: => A): A = {
      val out = body
      assert(tempViews == before, s"$what changed the session's temp views")
      out
    }
    assert(same("a SELECT")(
      lake.sql("SELECT COUNT(*) AS n FROM t").head().getLong(0)) == 3L)
    assert(same("a CTAS")(
      lake.sql("CREATE TABLE t2 AS SELECT id FROM t WHERE id < 3")
        .head().getLong(0)) == 2L)
    assert(same("an AT read of a table")(
      lake.sql(s"SELECT COUNT(*) AS n FROM t AT (VERSION => $v1)")
        .head().getLong(0)) == 2L)
    assert(same("an AT read of a view")(
      lake.sql(s"SELECT COUNT(*) AS n FROM tv AT (VERSION => $v2)")
        .head().getLong(0)) == 1L)
    assert(same("a table function")(
      lake.sql("SELECT COUNT(*) AS n FROM list_files('t')")
        .head().getLong(0)) == lake.listFiles("t").count())
    assert(same("lake.view")(lake.view("tv").count()) == 2L)
    lake.detach()
  }

  test("a CTE named like a lake table reads the CTE") {
    val dir = Files.createTempDirectory("graftsqlcte").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("base", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(lake.sql(
      """WITH base AS (SELECT id * 100 AS id FROM base WHERE id = 2)
        |SELECT id FROM base""".stripMargin)
      .as[Long].collect().toSeq == Seq(200L))
    // a later CTE sees an earlier one; the table stays reachable elsewhere
    assert(lake.sql(
      """WITH x AS (SELECT id FROM base), base AS (SELECT id + 1 AS id FROM x)
        |SELECT b.id FROM base b JOIN x ON b.id = x.id""".stripMargin)
      .as[Long].collect().toSeq == Seq(2L))
    lake.detach()
  }

  test("AT (VERSION => v) reads a table since dropped or renamed") {
    val dir = Files.createTempDirectory("graftsqlatdrop").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("gone", Seq(1L, 2L).toDF("id"))
    lake.createTableAs("moved", Seq(3L).toDF("id"))
    val before = lake.currentSnapshotId()
    lake.sql("DROP TABLE gone")
    lake.sql("ALTER TABLE moved RENAME TO moved2")
    assert(lake.sql(s"SELECT COUNT(*) AS n FROM gone AT (VERSION => $before)")
      .head().getLong(0) == 2L)
    assert(lake.sql(s"SELECT id FROM moved AT (VERSION => $before)")
      .as[Long].collect().toSeq == Seq(3L))
    val e = intercept[IllegalArgumentException](
      lake.sql(s"SELECT * FROM gone AT (VERSION => ${lake.currentSnapshotId()})")
        .collect())
    assert(e.getMessage.contains("does not exist at version"))
    lake.detach()
  }
}
