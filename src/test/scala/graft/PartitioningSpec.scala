package graft

import java.nio.file.Files

import graft.catalog._
import graft.functions.Murmur3
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class Murmur3Spec extends AnyFunSuite {
  // Iceberg spec appendix B test vectors (public): murmur3_x86_32 seed 0
  test("matches Iceberg bucket-hash vectors") {
    assert(Murmur3.hashLong(34L) == 2017239379)
    assert(Murmur3.hashBytes("iceberg".getBytes("UTF-8"), 0) == 1210000089)
    // date 2017-11-16 = epoch day 17486
    assert(Murmur3.hashLong(17486L) == -653330422)
    // timestamp 2017-11-16T22:31:08 UTC in micros
    assert(Murmur3.hashLong(1510871468000000L) == -2047944441)
    assert(Murmur3.hashDouble(1.0) == -142385009)
  }

  test("bool/int widening semantics (reference ducklake_murmur3.cpp)") {
    assert(Murmur3.hashAny(true, BooleanType) == Murmur3.hashLong(1L))
    assert(Murmur3.hashAny(34.toByte, ByteType) == Murmur3.hashLong(34L))
    assert(Murmur3.hashAny(34.toShort, ShortType) == Murmur3.hashLong(34L))
    assert(Murmur3.hashAny(34, IntegerType) == Murmur3.hashLong(34L))
    assert(Murmur3.hashAny(1.0f, FloatType) == Murmur3.hashDouble(1.0))
  }
}

class PartitioningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graftpart").toString
    Lake.attach(spark, s"$dir/catalog", s"$dir/data")
  }

  test("identity partitioning: hive paths + pruning + NULL partition") {
    val lake = freshLake()
    lake.createTable("pt", StructType(Seq(
      StructField("part_key", IntegerType), StructField("v", StringType))))
    lake.setPartitionedBy("pt", Seq(("part_key", "identity")))
    val rows = (0 until 1000).map(i => (if (i % 100 == 0) None else Some(i % 2),
      s"thisisastring_$i"))
    lake.append("pt", rows.toDF("part_key", "v"))
    assert(lake.table("pt").count() == 1000)
    // hive-style dirs incl __HIVE_DEFAULT_PARTITION__ for NULL keys
    val files = lake.listFiles("pt").collect().map(_.getString(0))
    assert(files.exists(_.contains("part_key=0/")))
    assert(files.exists(_.contains("part_key=1/")))
    assert(files.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    // eq filter prunes to one partition's files
    val t = lake.meta.tableByName("pt", lake.currentSnapshotId()).get
    val all = lake.meta.filesForScan(t.tableId, lake.currentSnapshotId())
    val pruned = lake.meta.filesForScan(t.tableId, lake.currentSnapshotId(),
      partitionEq = Seq((0L, "1")))
    assert(pruned.size < all.size)
    // odd i → part_key 1 (i%100==0 rows are all even → NULL never odd)
    assert(lake.table("pt", Some(col("part_key") === 1)).count() == 500)
  }

  test("re-partitioned table: old-spec files are never pruned by " +
    "new-spec partition values (stale partition_key_index collision)") {
    val lake = freshLake()
    lake.createTable("rp", StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType),
      StructField("v", StringType))))
    lake.setPartitionedBy("rp", Seq(("a", "identity")))
    lake.append("rp", Seq((1, 10, "old1"), (2, 20, "old2")).toDF("a", "b", "v"))
    // switch the partition column: old files keep partition values for `a`
    // under the SAME key index 0, but those must only ever prune reads
    // against the spec they were written under
    lake.setPartitionedBy("rp", Seq(("b", "identity")))
    lake.append("rp", Seq((3, 10, "new1"), (4, 30, "new2")).toDF("a", "b", "v"))
    // b=10 lives in an old-spec file AND a new-spec file
    assert(lake.table("rp", Some(col("b") === 10))
      .collect().map(_.getString(2)).sorted.toSeq == Seq("new1", "old1"))
    // and the new spec still prunes files it wrote: only new-spec b=30
    // files plus the (never-prunable) old-spec files are scanned
    val t = lake.meta.tableByName("rp", lake.currentSnapshotId()).get
    val ps = lake.meta.currentPartitionSpec(t.tableId,
      lake.currentSnapshotId()).get
    val all = lake.meta.filesForScan(t.tableId, lake.currentSnapshotId())
    val pruned = lake.meta.filesForScan(t.tableId, lake.currentSnapshotId(),
      partitionEq = Seq((0L, "30")),
      partitionSpecId = Some(ps.partitionId))
    assert(pruned.size < all.size)
    assert(lake.table("rp", Some(col("b") === 30)).count() == 1)
  }

  test("year transform partitioning + bucket transform") {
    val lake = freshLake()
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("1995-03-01 00:00:00")),
      (2, java.sql.Timestamp.valueOf("1996-07-01 00:00:00")),
      (3, java.sql.Timestamp.valueOf("1996-08-01 00:00:00"))
    ).toDF("id", "ts")
    lake.createTable("yt", df.schema)
    lake.setPartitionedBy("yt", Seq(("ts", "year")))
    lake.append("yt", df)
    val files = lake.listFiles("yt").collect().map(_.getString(0))
    assert(files.exists(_.contains("year=1995")))
    assert(files.exists(_.contains("year=1996")))
    // eq filter on ts prunes by year partition
    val t = lake.meta.tableByName("yt", lake.currentSnapshotId()).get
    val pruned = lake.meta.filesForScan(t.tableId, lake.currentSnapshotId(),
      partitionEq = Seq((0L, "1995")))
    assert(pruned.size == 1)

    // bucket(4): same key → same bucket dir; reference murmur3 semantics
    val lake2 = freshLake()
    val df2 = (1L to 100L).map(i => (i, i % 10)).toDF("id", "k")
    lake2.createTable("bt", df2.schema)
    lake2.setPartitionedBy("bt", Seq(("k", "bucket(4)")))
    lake2.append("bt", df2)
    assert(lake2.table("bt").count() == 100)
    val expectBucket = (Murmur3.hashLong(7L) & Int.MaxValue) % 4
    assert(lake2.table("bt", Some(col("k") === 7L)).count() == 10)
    val t2 = lake2.meta.tableByName("bt", lake2.currentSnapshotId()).get
    val pruned2 = lake2.meta.filesForScan(t2.tableId,
      lake2.currentSnapshotId(),
      partitionEq = Seq((0L, expectBucket.toString)))
    assert(pruned2.size < lake2.meta.filesForScan(t2.tableId,
      lake2.currentSnapshotId()).size)
  }

  test("identity partitioning on DATE/TIMESTAMP: equality filters keep " +
      "their rows (regression: internal-form literal pruned everything)") {
    val lake = freshLake()
    val df = Seq(
      (1, java.sql.Date.valueOf("2026-04-30"),
        java.sql.Timestamp.valueOf("2026-04-30 12:30:00")),
      (2, java.sql.Date.valueOf("2026-04-29"),
        java.sql.Timestamp.valueOf("2026-04-29 01:02:03"))
    ).toDF("id", "d", "ts")
    lake.createTable("dp", df.schema)
    lake.setPartitionedBy("dp", Seq(("d", "identity")))
    lake.append("dp", df)
    assert(lake.table("dp",
      Some(col("d") === java.sql.Date.valueOf("2026-04-30"))).count() == 1)
    // timestamp identity partitioning too
    val lake2 = freshLake()
    lake2.createTable("tp", df.schema)
    lake2.setPartitionedBy("tp", Seq(("ts", "identity")))
    lake2.append("tp", df)
    assert(lake2.table("tp", Some(col("ts") ===
      java.sql.Timestamp.valueOf("2026-04-30 12:30:00"))).count() == 1)
  }

  test("transform label vs same-named column " +
      "(reference partition_key_name_conflict.test)") {
    val lake = freshLake()
    lake.sql("CREATE TABLE t (year INTEGER, ts TIMESTAMP, v VARCHAR)")
    lake.sql("ALTER TABLE t SET PARTITIONED BY (year(ts), year)")
    lake.sql("INSERT INTO t VALUES (42, TIMESTAMP '2020-06-15 00:00:00', 'hello')")
    lake.sql("INSERT INTO t VALUES (99, TIMESTAMP '2021-12-25 00:00:00', 'world')")
    assert(lake.table("t").count() == 2)
    assert(lake.table("t", Some(col("year") === 42)).count() == 1)
    assert(lake.table("t",
      Some(col("ts") >= lit("2021-01-01").cast("timestamp"))).count() == 1)
  }

  test("compaction merges NULL-partition files " +
      "(reference merge_adjacent_null_partition.test)") {
    val lake = freshLake()
    lake.sql("CREATE TABLE t (id INTEGER, tag VARCHAR)")
    lake.sql("ALTER TABLE t SET PARTITIONED BY (tag)")
    lake.sql("INSERT INTO t VALUES (1, NULL)")
    lake.sql("INSERT INTO t VALUES (2, NULL)")
    lake.sql("INSERT INTO t VALUES (3, 'a')")
    assert(lake.listFiles("t").count() == 3)
    lake.mergeAdjacentFiles("t")
    // the two NULL-partition files merged; the 'a' file is alone
    assert(lake.listFiles("t").count() == 2)
    assert(lake.table("t").count() == 3)
    assert(lake.table("t", Some(col("tag").isNull)).count() == 2)
    assert(lake.table("t", Some(col("tag") === "a")).count() == 1)
  }

  test("UPDATE moves rows across partitions, transforms included " +
      "(reference update_partition_function.test)") {
    val lake = freshLake()
    lake.sql("CREATE TABLE t (p VARCHAR, ts TIMESTAMP, v VARCHAR)")
    lake.sql("ALTER TABLE t SET PARTITIONED BY (p, day(ts))")
    lake.sql("INSERT INTO t VALUES ('p1', TIMESTAMP '2026-02-05 00:00:00', 'va')")
    lake.sql("INSERT INTO t VALUES ('p2', TIMESTAMP '2026-03-10 00:00:00', 'vb')")
    lake.sql("UPDATE t SET p = 'p3' WHERE v = 'va'")
    assert(lake.table("t", Some(col("p") === "p3")).count() == 1)
    assert(lake.table("t", Some(col("p") === "p1")).count() == 0)
    lake.sql("UPDATE t SET v = 'vc' WHERE p = 'p2'")
    assert(lake.table("t", Some(col("v") === "vc")).count() == 1)
    // moving the transform input re-partitions the rewritten row
    lake.sql("UPDATE t SET ts = TIMESTAMP '2026-06-15 00:00:00' WHERE p = 'p3'")
    assert(lake.table("t",
      Some(col("ts") >= lit("2026-06-01").cast("timestamp"))).count() == 1)
    assert(lake.table("t").count() == 2)
    // the rewritten rows' partition values are re-derived: pruning by
    // the NEW value finds them, by the OLD value does not
    assert(lake.table("t", Some(col("p") === "p3" &&
      col("ts") === lit("2026-06-15").cast("timestamp"))).count() == 1)
    // and the catalog rows prove it: every LIVE file carries partition
    // values, including the rewritten ones ('p3', '2026-06-15')
    val c = java.sql.DriverManager.getConnection(lake.meta.jdbcUrl)
    try {
      // files with LIVE ROWS (not fully delete-covered — update is
      // delete+insert, so the originals stay as time-travel history)
      val rs = c.createStatement().executeQuery(
        """SELECT pv.partition_value FROM ducklake_data_file f
          |JOIN ducklake_file_partition_value pv
          |  ON f.data_file_id = pv.data_file_id
          |WHERE f.end_snapshot IS NULL AND pv.partition_key_index = 0
          |  AND f.record_count > (
          |    SELECT COALESCE(SUM(d.delete_count), 0)
          |    FROM ducklake_delete_file d
          |    WHERE d.data_file_id = f.data_file_id
          |      AND d.end_snapshot IS NULL)""".stripMargin)
      val vals = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) vals += rs.getString(1)
      assert(vals.sorted == Seq("p2", "p3"), s"live partition values: $vals")
    } finally c.close()
  }

  test("compaction merges within partitions and keeps them prunable") {
    val dir = Files.createTempDirectory("graftpc").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTable("pc", Seq((1L, "eu")).toDF("id", "region").schema)
    lake.setPartitionedBy("pc", Seq(("region", "identity")))
    // several small appends per partition → many files
    (0 until 3).foreach { k =>
      lake.append("pc", Seq((k * 10L, "eu"), (k * 10L + 1, "us"))
        .toDF("id", "region"))
    }
    val before = lake.listFiles("pc").count()
    assert(before >= 6)
    val merged = lake.mergeAdjacentFiles("pc")
    assert(merged >= 2) // one merge group per partition, never across
    assert(lake.table("pc").count() == 6)
    // merged files keep partition values → pruning still skips files
    val scanned = lake.listFiles("pc").count()
    assert(scanned < before)
    assert(lake.table("pc", Some(col("region") === "eu")).count() == 3)
    // rowids survive partition-aware compaction
    assert(lake.tableWithRowId("pc").select("rowid").distinct().count() == 6)
  }

  test("partitioned table supports delete + time travel") {
    val lake = freshLake()
    val df = (0 until 100).map(i => (i, i % 3)).toDF("id", "p")
    lake.createTable("pd", df.schema)
    lake.setPartitionedBy("pd", Seq(("p", "identity")))
    lake.append("pd", df)
    val v1 = lake.currentSnapshotId()
    lake.delete("pd", col("p") === 1)
    assert(lake.table("pd").count() == 67)
    assert(lake.tableAtVersion("pd", v1).count() == 100)
  }

  test("orphan sweep over hive dirs whose names hold spaces and escapes") {
    val dir = Files.createTempDirectory("graftpart").toString
    val lake = Lake.attach(spark, s"$dir/catalog", s"$dir/data")
    val df = Seq((1, "a b"), (2, "x:y"), (3, "p%q"), (4, "a b")).toDF("id", "k")
    lake.createTable("sp", df.schema)
    lake.setPartitionedBy("sp", Seq(("k", "identity")))
    lake.append("sp", df)
    // every live file is known, whatever its dir name
    assert(lake.deleteOrphanedFiles("sp", dryRun = true).isEmpty)
    val live = lake.listFiles("sp").collect().map(_.getString(0))
    assert(live.exists(_.contains("k=a b/")) &&
      live.exists(_.contains("k=x%3Ay/")) &&
      live.exists(_.contains("k=p%25q/")), live.toSeq)
    // a stray file in the spaced dir is the one orphan
    val spaced = live.find(_.contains("k=a b/")).get
    val stray =
      s"$dir/data/${spaced.take(spaced.lastIndexOf('/'))}/stray.parquet"
    Files.write(java.nio.file.Paths.get(stray), Array[Byte](1))
    assert(lake.deleteOrphanedFiles("sp") == Seq("sp/k=a b/stray.parquet"))
    assert(!Files.exists(java.nio.file.Paths.get(stray)))
    assert(lake.table("sp").count() == 4)
  }

  test("UPDATE and DELETE on identity partition values holding a space, " +
      "':' or '%' match their rows and keep every other partition") {
    val lake = freshLake()
    val df = Seq((1, "a b"), (2, "x:y"), (3, "p%q"), (4, "a b"), (5, "plain"))
      .toDF("id", "k")
    lake.createTable("sp", df.schema)
    lake.setPartitionedBy("sp", Seq(("k", "identity")))
    lake.append("sp", df)
    def all() = lake.table("sp").as[(Int, String)].collect().toSet
    var expect = df.as[(Int, String)].collect().toSet
    for (v <- Seq("a b", "x:y", "p%q", "plain")) {
      val n = expect.count(_._2 == v)
      assert(lake.update("sp", Map("id" -> (col("id") + 10)),
        col("k") === v) == n, v)
      expect = expect.map { case (i, k) => (if (k == v) i + 10 else i, k) }
      assert(all() == expect, s"after UPDATE of $v")
    }
    for (v <- Seq("x:y", "a b", "p%q")) {
      assert(lake.delete("sp", col("k") === v) ==
        expect.count(_._2 == v), v)
      expect = expect.filterNot(_._2 == v)
      assert(all() == expect, s"after DELETE of $v")
    }
    assert(all() == Set((15, "plain")))
  }

  test("a lake whose root path holds a space keeps earlier deletes of a " +
      "file through a second DELETE") {
    val dir = Files.createTempDirectory("graft part").toString
    val lake = Lake.attach(spark, s"$dir/cat alog", s"$dir/da ta")
    lake.createTableAs("t", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1))
    assert(lake.delete("t", col("id") === 3) == 1)
    assert(lake.delete("t", col("id") === 7) == 1)
    assert(lake.table("t").as[(Int, String)].collect().map(_._1).sorted
      .toSeq == ((1 to 10).toSet - 3 - 7).toSeq.sorted)
    assert(lake.tableWithRowId("t").count() == 8)
    assert(lake.update("t", Map("v" -> lit("u")), col("id") === 5) == 1)
    assert(lake.table("t").filter(col("v") === "u").count() == 1)
    assert(lake.table("t").count() == 8)
  }
}
