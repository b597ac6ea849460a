package graft

import java.nio.file.Files

import graft.catalog._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Virtual columns surfaced by the lake scan — rowid, snapshot_id,
  * filename, file_row_number, file_index (reference
  * ducklake_table_entry.cpp:398-411, test/sql/virtualcolumns/
  * ducklake_virtual_columns.test, test/sql/data_inlining/
  * basic_data_inlining.test:56-78). file_index is the file's ordinal in
  * the scan's multi-file list: committed data files first, then the
  * committed-inlined pseudo-file, then transaction-local files. */
class VirtualColumnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graftvc").toString
    Lake.attach(spark, s"$dir/catalog", s"$dir/data")
  }

  test("file_row_number / filename mirror the reference virtualcolumns test") {
    val lake = freshLake()
    lake.createTable("test", StructType(Seq(StructField("i", IntegerType))))
    lake.append("test", Seq(1, 2, 3).toDF("i").coalesce(1))
    val rows = lake.tableWithRowId("test")
    assert(rows.select("file_row_number").as[Long].collect().sorted.toSeq
      == Seq(0L, 1L, 2L))
    assert(rows.filter(col("file_row_number") === 1L).count() == 1)
    assert(rows.select("filename").distinct().count() == 1)
  }

  test("file_index is the per-scan file ordinal over committed files") {
    val lake = freshLake()
    lake.createTable("t", StructType(Seq(StructField("i", IntegerType))))
    lake.append("t", Seq(1, 2).toDF("i").coalesce(1))
    lake.append("t", Seq(3, 4).toDF("i").coalesce(1))
    lake.append("t", Seq(5).toDF("i").coalesce(1))
    val rows = lake.tableWithRowId("t")
      .select("i", "file_index", "filename")
    // three committed files → ordinals 0, 1, 2; each file one ordinal
    assert(rows.select("file_index").distinct().as[Long].collect()
      .sorted.toSeq == Seq(0L, 1L, 2L))
    val perFile = rows.groupBy("filename")
      .agg(countDistinct(col("file_index")).as("n"))
      .select("n").as[Long].collect()
    assert(perFile.forall(_ == 1L))
    // rows inserted together share a file ⇒ share a file_index
    val byIdx = rows.groupBy("file_index")
      .agg(sort_array(collect_list(col("i"))).as("is"))
      .select("is").as[Seq[Int]].collect().toSet
    assert(byIdx == Set(Seq(1, 2), Seq(3, 4), Seq(5)))
  }

  test("inlined rows take the pseudo-file slot after committed files") {
    val lake = freshLake()
    lake.setOption("data_inlining_row_limit", "10")
    lake.createTable("t", StructType(Seq(StructField("i", IntegerType))))
    // one parquet file (over the inline limit), then inlined rows
    lake.append("t", (1 to 40).map(i => i).toDF("i").coalesce(1))
    lake.append("t", Seq(100, 101).toDF("i"))
    val rows = lake.tableWithRowId("t").select("i", "file_index", "filename")
    val inlinedIdx = rows.filter(col("i") >= 100)
      .select("file_index").distinct().as[Long].collect().toSeq
    assert(inlinedIdx == Seq(1L)) // after the single committed file (0)
    assert(rows.filter(col("i") < 100)
      .select("file_index").distinct().as[Long].collect().toSeq == Seq(0L))
    // all-inlined table: pseudo-file is the whole list → index 0
    lake.createTable("s", StructType(Seq(StructField("i", IntegerType))))
    lake.append("s", Seq(1, 2).toDF("i"))
    assert(lake.tableWithRowId("s").select("file_index").distinct()
      .as[Long].collect().toSeq == Seq(0L))
  }

  test("transaction-local files index after the committed list") {
    val lake = freshLake()
    lake.createTable("t", StructType(Seq(StructField("i", IntegerType))))
    lake.append("t", Seq(1, 2).toDF("i").coalesce(1))
    lake.begin()
    try {
      lake.append("t", Seq(10, 11).toDF("i").coalesce(1))
      val rows = lake.tableWithRowId("t").select("i", "file_index")
      assert(rows.filter(col("i") < 10)
        .select("file_index").distinct().as[Long].collect().toSeq == Seq(0L))
      val txnIdx = rows.filter(col("i") >= 10)
        .select("file_index").distinct().as[Long].collect().toSeq
      assert(txnIdx.nonEmpty && txnIdx.forall(_ >= 1L))
    } finally lake.rollback()
  }

  test("virtual columns reachable through SQL, filterable") {
    val lake = freshLake()
    lake.createTable("test", StructType(Seq(StructField("i", IntegerType))))
    lake.append("test", Seq(1, 2, 3).toDF("i").coalesce(1))
    assert(lake.sql(
      "SELECT file_row_number FROM test ORDER BY file_row_number")
      .as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    assert(lake.sql(
      "SELECT file_index FROM test GROUP BY file_index")
      .as[Long].collect().toSeq == Seq(0L))
    assert(lake.sql(
      "SELECT i FROM test WHERE file_row_number = 1").as[Int]
      .collect().toSeq == Seq(2))
  }

  test("rowid in lake.sql DELETE / UPDATE conditions") {
    val lake = freshLake()
    lake.createTableAs("rv",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    val rid = lake.sql("SELECT rowid FROM rv WHERE id = 2").head().getLong(0)
    assert(lake.sql(s"UPDATE rv SET v = 'B' WHERE rowid = $rid")
      .head().getLong(0) == 1L)
    assert(lake.sql("SELECT v FROM rv WHERE id = 2").head().getString(0) ==
      "B")
    // UPDATE keeps the row id, so the same rowid deletes the new version
    assert(lake.sql(s"DELETE FROM rv WHERE rowid = $rid")
      .head().getLong(0) == 1L)
    assert(lake.table("rv").orderBy("id").select("id").as[Long]
      .collect().toSeq == Seq(1L, 3L))
    lake.detach()
  }
}
