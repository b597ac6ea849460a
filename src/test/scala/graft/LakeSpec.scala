package graft

import java.nio.file.Files

import graft.catalog._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end lake lifecycle against an embedded Derby catalog, following
  * the reference's test corpus shapes (FIXTURES.md §1,4,5,7). */
class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graftlake").toString
    Lake.attach(spark, s"$dir/catalog", s"$dir/data")
  }

  test("an ephemeral lake deletes its work folder on detach") {
    val work = Files.createTempDirectory("graftephem")
    val lake = Lake.attachEphemeral(spark, work.toString)
    lake.createTableAs("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(lake.table("t").count() == 2)
    assert(Files.exists(work.resolve("data")))
    lake.detach()
    assert(!Files.exists(work), s"$work left behind")
  }

  test("create + append + scan round-trip with NULLs") {
    val lake = freshLake()
    lake.createTable("test", StructType(Seq(
      StructField("i", IntegerType), StructField("j", IntegerType))))
    lake.append("test", Seq((Some(1), 2), (None, 3))
      .toDF("i", "j"))
    val got = lake.table("test").orderBy("j").collect()
    assert(got.map(r => (Option(r.get(0)), r.getInt(1))).toSeq ==
      Seq((Some(1), 2), (None, 3)))
  }

  test("snapshot per statement + time travel AT VERSION") {
    val lake = freshLake()
    lake.createTable("t", StructType(Seq(
      StructField("id", IntegerType), StructField("val", StringType))))
    val s1 = lake.currentSnapshotId()
    lake.append("t", Seq((1, "Hello"), (2, "World")).toDF("id", "val"))
    val s2 = lake.currentSnapshotId()
    assert(s2 == s1 + 1)
    lake.update("t", Map("val" -> lit("DuckLake")), col("id") === 2)
    val s3 = lake.currentSnapshotId()
    assert(lake.tableAtVersion("t", s2).orderBy("id")
      .select("val").as[String].collect().toSeq == Seq("Hello", "World"))
    assert(lake.tableAtVersion("t", s3).orderBy("id")
      .select("val").as[String].collect().toSeq == Seq("Hello", "DuckLake"))
  }

  test("delete writes positional delete files; rowids stable") {
    val lake = freshLake()
    lake.createTable("dml", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))))
    // 3 separate appends → 3+ data files (multi-file positional deletes)
    (0 until 3).foreach { k =>
      lake.append("dml",
        (k * 1000 until (k + 1) * 1000).map(i => (i, s"v$i")).toDF("id", "v"))
    }
    val before = lake.tableWithRowId("dml")
      .select("id", "rowid").as[(Int, Long)].collect().toMap
    val n = lake.delete("dml", col("id") % 10 === 0)
    assert(n == 300)
    val after = lake.tableWithRowId("dml")
    assert(after.count() == 2700)
    assert(after.filter(col("id") % 10 === 0).count() == 0)
    // rowids of surviving rows unchanged
    val afterMap = after.select("id", "rowid").as[(Int, Long)].collect().toMap
    afterMap.foreach { case (id, rid) => assert(before(id) == rid) }
    // consecutive deletes union
    assert(lake.delete("dml", col("id") === 1) == 1)
    assert(lake.table("dml").count() == 2699)
  }

  test("update rewrites full rows in one snapshot") {
    val lake = freshLake()
    lake.createTableAs("u",
      (1 to 100).map(i => (i, s"x$i", i * 1.5)).toDF("id", "s", "d"))
    val sBefore = lake.currentSnapshotId()
    val n = lake.update("u", Map("s" -> lit("updated")), col("id") <= 10)
    assert(n == 10)
    assert(lake.currentSnapshotId() == sBefore + 1) // one snapshot
    val got = lake.table("u")
    assert(got.count() == 100)
    assert(got.filter(col("s") === "updated").count() == 10)
    // non-SET column preserved through rewrite
    assert(got.filter(col("id") === 5).select("d").as[Double].head() == 7.5)
  }

  test("update under a nondeterministic condition rewrites exactly the " +
      "rows it counts and keeps the row count") {
    val lake = freshLake()
    lake.createTableAs("nd",
      (1L to 400L).map(i => (i, 0)).toDF("id", "v").repartition(4))
    val coin = udf(() => scala.util.Random.nextBoolean()).asNondeterministic()
    val n = lake.update("nd", Map("v" -> lit(1)), coin())
    assert(lake.table("nd").count() == 400L)
    assert(lake.table("nd").filter(col("v") === 1).count() == n)
    assert(lake.table("nd").select("id").distinct().count() == 400L)
  }

  test("UPDATE matching zero rows is a clean no-op (regression: the " +
    "empty rewrite crashed parquet schema inference on the staging dir)") {
    val lake = freshLake()
    lake.createTableAs("nm",
      (1 to 50).map(i => (i, s"x$i")).toDF("id", "s"))
    val files0 = lake.listFiles("nm").count()
    val n = lake.update("nm", Map("s" -> lit("never")), col("id") > 999)
    assert(n == 0L)
    assert(lake.table("nm").filter(col("s") === "never").count() == 0)
    assert(lake.listFiles("nm").count() == files0, "no-op wrote files")
    // MERGE whose matched set is empty takes the same rewrite path
    lake.merge("nm", Seq((1000, "y")).toDF("id", "s"), "id",
      whenMatchedUpdate = Some(Map("s" -> lit("never"))),
      whenNotMatchedInsert = false)
    assert(lake.table("nm").count() == 50)
    // the same guard on a PARTITIONED table (parts land in subdirs)
    lake.createTable("nmp", (1 to 3).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").schema)
    lake.setPartitionedBy("nmp", Seq(("k", "bucket(2)")))
    lake.append("nmp", (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"))
    assert(lake.update("nmp", Map("v" -> lit("z")), col("k") > 999) == 0L)
    assert(lake.table("nmp").count() == 30)
  }

  test("UPDATE and MERGE-update preserve row ids " +
      "(reference ducklake_row_id_update.test)") {
    val lake = freshLake()
    lake.createTableAs("ru",
      Seq((1, 5), (2, 5)).toDF("i", "j").coalesce(1))
    lake.setPartitionedBy("ru", Seq(("i", "identity")))
    val before = lake.tableWithRowId("ru").select("rowid", "i")
      .as[(Long, Int)].collect().toMap
    // merged-update rewrites row i=2 to i=1 (moves partitions) — rowid
    // sticks with the logical row
    lake.merge("ru", Seq((1, 5)).toDF("i", "j"), "j",
      whenMatchedUpdate = Some(Map("i" -> lit(1))),
      whenNotMatchedInsert = false)
    val after = lake.tableWithRowId("ru").select("rowid", "i")
      .as[(Long, Int)].collect().toSeq.sortBy(_._1)
    assert(after.map(_._1) == before.keys.toSeq.sorted) // same rowids
    assert(after.forall(_._2 == 1))
    // plain UPDATE preserves too, and snapshot_id reflects the update
    val s0 = lake.currentSnapshotId()
    lake.update("ru", Map("j" -> lit(9)), col("rowid") === after.head._1)
    val row = lake.tableWithRowId("ru")
      .filter(col("rowid") === after.head._1)
      .select("rowid", "snapshot_id", "j").head()
    assert(row.getLong(0) == after.head._1)
    assert(row.getLong(1) == s0 + 1) // row version born at the update
    assert(row.getInt(2) == 9)
  }

  test("merge: matched update + not matched insert; multi-match errors") {
    val lake = freshLake()
    lake.createTableAs("m",
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val src = Seq((2, "B"), (4, "D")).toDF("id", "v")
    lake.merge("m", src, "id",
      whenMatchedUpdate = Some(Map("v" -> col("s.v"))))
    val got = lake.table("m").orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))

    val dupSrc = Seq((1, "x"), (1, "y")).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      lake.merge("m", dupSrc, "id",
        whenMatchedUpdate = Some(Map("v" -> col("s.v"))))
    }
    assert(e.getMessage.contains("updated multiple times"))
  }

  test("merge: matched delete") {
    val lake = freshLake()
    lake.createTableAs("md", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    lake.merge("md", Seq(Tuple1(1)).toDF("id"), "id",
      whenMatchedDelete = true, whenNotMatchedInsert = false)
    assert(lake.table("md").as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("merge: ordered multi-clause WHEN MATCHED, first match wins") {
    val lake = freshLake()
    lake.createTableAs("mm",
      Seq((1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d"))
        .toDF("id", "n", "v"))
    val src = Seq((1, 0), (2, 0), (3, 0), (5, 0)).toDF("id", "x")
    // clause order: DELETE small n; conditioned UPDATE mid n; fallback
    // UPDATE. Row id=1 (n=10) deletes; id=2 (n=20) takes the mid update;
    // id=3 (n=30) falls through to the unconditioned clause; id=5
    // inserts. The mid clause also proves first-match-wins: n=10 < 25
    // would satisfy it too, but the earlier DELETE claims the row.
    lake.mergeMatched("mm", src, "id",
      matchedActions = Seq(
        MatchedDelete(Some(col("t.n") < 15)),
        MatchedUpdate(Map("v" -> lit("mid")), Some(col("t.n") < 25)),
        MatchedUpdate(Map("v" -> lit("big"), "n" -> (col("t.n") + 1)))),
      whenNotMatchedInsert = true,
      notMatchedInsertValues =
        Some(Seq("id" -> col("s.id"), "n" -> lit(99), "v" -> lit("new"))))
    val got = lake.table("mm").orderBy("id")
      .as[(Int, Int, String)].collect().toSeq
    assert(got == Seq((2, 20, "mid"), (3, 31, "big"), (4, 40, "d"),
      (5, 99, "new")))
    // time travel still sees the pre-merge state (ONE snapshot for all)
    assert(lake.tableAtVersion("mm", lake.currentSnapshotId() - 1)
      .count() == 4)
  }

  test("stats-based file pruning skips non-matching files") {
    val lake = freshLake()
    lake.createTable("p", StructType(Seq(StructField("k", LongType))))
    lake.append("p", (1L to 100L).toDF("k").coalesce(1))
    lake.append("p", (1000L to 1100L).toDF("k").coalesce(1))
    lake.append("p", (5000L to 5100L).toDF("k").coalesce(1))
    val allFiles = lake.meta.filesForScan(
      lake.meta.tableByName("p", lake.currentSnapshotId()).get.tableId,
      lake.currentSnapshotId())
    assert(allFiles.size == 3)
    val pruned = lake.meta.filesForScan(allFiles.head.file.tableId,
      lake.currentSnapshotId(),
      Seq(StatsFilter(
        lake.meta.columnsOf(allFiles.head.file.tableId,
          lake.currentSnapshotId()).head.columnId,
        ">=", "4999", numeric = true)))
    assert(pruned.size == 1)
    // end-to-end: filtered read returns correct rows
    val got = lake.table("p", Some(col("k") >= 4999L))
    assert(got.count() == 101)
  }

  test("CDC: table_insertions / deletions / changes") {
    val lake = freshLake()
    lake.createTable("cdc", StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))))
    val s0 = lake.currentSnapshotId()
    lake.append("cdc", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val s1 = lake.currentSnapshotId()
    lake.delete("cdc", col("id") === 1)
    val s2 = lake.currentSnapshotId()

    val ins = lake.tableInsertions("cdc", s0, s1)
    assert(ins.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    val dels = lake.tableDeletions("cdc", s1, s2)
    assert(dels.select("id").as[Int].collect().toSeq == Seq(1))
    val changes = lake.tableChanges("cdc", s0, s2)
    assert(changes.filter(col("change_type") === "insert").count() == 2)
    assert(changes.filter(col("change_type") === "delete").count() == 1)
  }

  test("max_compacted_files caps merge operations per run (incremental compaction)") {
    val lake = freshLake()
    lake.createTable("mc", StructType(Seq(StructField("id", LongType))))
    // two partitions' worth of groups: force >1 merge group via tiny
    // target size so the cap is observable
    (0 until 6).foreach(k =>
      lake.append("mc", (k * 10L until (k + 1) * 10L).toDF("id")
        .coalesce(1)))
    val before = lake.listFiles("mc").count()
    assert(before == 6)
    // tiny target → several merge groups; cap to 1 operation
    val fileSize = lake.listFiles("mc").select("file_size_bytes")
      .as[Long].head()
    val ops = lake.mergeAdjacentFiles("mc",
      targetFileSize = fileSize * 2 + 16, maxCompactedFiles = Some(1))
    assert(ops == 1, s"expected exactly one merge operation, got $ops")
    val after = lake.listFiles("mc").count()
    assert(after < before && after > 1,
      s"one bounded merge must leave remaining groups ($before -> $after)")
    assert(lake.table("mc").count() == 60)
    // the cap validates like the reference
    intercept[IllegalArgumentException](
      lake.mergeAdjacentFiles("mc", maxCompactedFiles = Some(0)))
    // SQL CALL spelling
    lake.sql("CALL merge_adjacent_files('mc', max_compacted_files=>1000)")
    assert(lake.table("mc").count() == 60)
  }

  test("compaction merges files, keeps rowids + time travel") {
    val lake = freshLake()
    lake.createTable("c", StructType(Seq(StructField("id", LongType))))
    (0 until 4).foreach(k =>
      lake.append("c", (k * 10L until (k + 1) * 10L).toDF("id")))
    val preSnap = lake.currentSnapshotId()
    val ridsBefore = lake.tableWithRowId("c")
      .select("id", "rowid").as[(Long, Long)].collect().toMap
    val merged = lake.mergeAdjacentFiles("c")
    assert(merged == 1)
    val files = lake.listFiles("c").collect()
    assert(files.length == 1)
    val ridsAfter = lake.tableWithRowId("c")
      .select("id", "rowid").as[(Long, Long)].collect().toMap
    assert(ridsAfter == ridsBefore)
    // time travel to pre-compaction snapshot still sees 4 files' rows
    assert(lake.tableAtVersion("c", preSnap).count() == 40)
    // delete after compaction works on merged file
    lake.delete("c", col("id") < 5L)
    assert(lake.table("c").count() == 35)

    // mixed table (merged + fresh append): the materialized-rowid split
    // comes from the catalog flag — a scan does ZERO driver footer reads
    lake.append("c", (100L until 110L).toDF("id"))
    Lake.clearFileSchemaCache()
    assert(lake.tableWithRowId("c").count() == 45)
    assert(Lake.fileSchemaCacheSize == 0)
    // rowids still unique across merged + raw files
    assert(lake.tableWithRowId("c").select("rowid").distinct().count() == 45)
  }

  test("rewrite_data_files drops dead rows when threshold met") {
    val lake = freshLake()
    lake.createTableAs("rw", (1L to 100L).toDF("id").coalesce(1))
    lake.delete("rw", col("id") <= 96L)
    val n = lake.rewriteDataFiles("rw", deleteThreshold = 0.9)
    assert(n == 1)
    assert(lake.table("rw").count() == 4)
    val f = lake.listFiles("rw").collect()
    assert(f.length == 1 && f.head.getAs[Long]("record_count") == 4)
  }

  test("expire + cleanup remove dead files physically") {
    val lake = freshLake()
    lake.createTableAs("ex", (1L to 50L).toDF("id"))
    lake.append("ex", (51L to 60L).toDF("id"))
    lake.mergeAdjacentFiles("ex")
    val expired = lake.expireSnapshots(
      olderThanMs = Some(System.currentTimeMillis() + 1000))
    assert(expired.nonEmpty)
    val removed = lake.cleanupOldFiles()
    assert(removed.nonEmpty)
    // current data still intact
    assert(lake.table("ex").count() == 60)
  }

  test("schema evolution: add/drop/rename column + widening") {
    val lake = freshLake()
    lake.createTableAs("se", Seq((1, "a")).toDF("id", "v"))
    val sOld = lake.currentSnapshotId()
    lake.addColumn("se", StructField("extra", StringType))
    // old data reads back NULL for new column
    assert(lake.table("se").columns.toSeq == Seq("id", "v", "extra"))
    assert(lake.table("se").select("extra").head().isNullAt(0))
    // old snapshot lacks the column
    assert(lake.tableAtVersion("se", sOld).columns.toSeq == Seq("id", "v"))
    lake.append("se", Seq((2, "b", "x")).toDF("id", "v", "extra"))
    assert(lake.table("se").count() == 2)
    lake.renameColumn("se", "extra", "extra2")
    assert(lake.table("se").columns.contains("extra2"))
    // data written under the OLD name still reads back (epoch mapping)
    assert(lake.table("se").filter(col("extra2") === "x").count() == 1)
    lake.dropColumn("se", "extra2")
    assert(lake.table("se").columns.toSeq == Seq("id", "v"))
    // widening ok, narrowing rejected
    lake.changeColumnType("se", "id", LongType)
    intercept[IllegalArgumentException] {
      lake.changeColumnType("se", "id", IntegerType)
    }
  }

  test("global table column stats accumulate across appends") {
    val lake = freshLake()
    lake.createTableAs("st", Seq((5, Some("b")), (9, None)).toDF("id", "v"))
    lake.append("st", Seq((1, Some("z"))).toDF("id", "v"))
    val stats = lake.tableColumnStats("st").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats("id").getBoolean(1) === false) // no nulls in id
    assert(stats("v").getBoolean(1) === true) // v had a null
    assert(stats("id").getString(3).toDouble == 1.0) // merged min
    assert(stats("id").getString(4).toDouble == 9.0) // merged max
    // contains_null=false lets SET NOT NULL skip the scan; =true verifies
    lake.setNotNull("st", "id")
    intercept[IllegalArgumentException](lake.setNotNull("st", "v"))
    // after deleting the null row the data-scan path accepts v
    lake.delete("st", col("v").isNull)
    lake.setNotNull("st", "v")
  }

  test("SET NOT NULL never trusts stats blind to inlined rows") {
    val lake = freshLake()
    lake.createTableAs("sn", Seq((1, Some("a"))).toDF("id", "v"))
    // file stats now say contains_null=false for v — but inlined appends
    // bypass the cumulative stats merge, so a NULL can hide there
    lake.setOption("data_inlining_row_limit", "10")
    lake.append("sn", Seq((2, None: Option[String])).toDF("id", "v"))
    // stats still claim no nulls; the data scan must catch the inlined one
    intercept[IllegalArgumentException](lake.setNotNull("sn", "v"))
  }

  test("views resolve against lake tables") {
    val lake = freshLake()
    lake.createTableAs("vt", Seq((1, 10), (2, 20)).toDF("k", "x"))
    lake.createView("v_sum", "SELECT SUM(x) AS s FROM vt")
    assert(lake.view("v_sum").head().getLong(0) == 30L)
  }

  test("concurrent appends both commit (append-only fast path)") {
    val lake = freshLake()
    lake.createTable("cc", StructType(Seq(StructField("id", LongType))))
    val threads = (0 until 4).map { k =>
      new Thread(() =>
        lake.append("cc", (k * 100L until (k + 1) * 100L).toDF("id")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(lake.table("cc").count() == 400)
    assert(lake.tableWithRowId("cc").select("rowid").distinct().count() == 400)
  }

  test("drop + rename table; detach/re-attach persistence") {
    val lake = freshLake()
    lake.createTableAs("a", Seq((1, "x")).toDF("i", "s"))
    lake.renameTable("a", "b")
    assert(lake.table("b").count() == 1)
    intercept[IllegalArgumentException](lake.table("a"))
    // re-attach: fresh manager over the same catalog dir
    val lake2 = new Lake(spark,
      new MetadataManager(lake.meta.jdbcUrl), lake.dataPath)
    assert(lake2.table("b").count() == 1)
    lake2.dropTable("b")
    intercept[IllegalArgumentException](lake2.table("b"))
    // time travel still reads the table under its ORIGINAL name at an old
    // snapshot (rename is itself versioned)
    assert(lake.tableAtVersion("a", 2).count() == 1)
  }

  test("snapshots() metadata + commit message") {
    val lake = freshLake()
    lake.createTableAs("s1", Seq(Tuple1(1)).toDF("x"))
    val snaps = lake.snapshots().collect()
    assert(snaps.length >= 3) // initial + create + append
    assert(snaps.map(_.getAs[Long]("snapshot_id")).toSeq.sorted ==
      snaps.map(_.getAs[Long]("snapshot_id")).toSeq)
  }

  test("addDataFiles registers foreign parquet without rewrite") {
    val lake = freshLake()
    val ext = Files.createTempDirectory("ext")
    (1L to 20L).toDF("id").coalesce(1).write
      .parquet(s"$ext/src")
    val f = Files.list(java.nio.file.Paths.get(s"$ext/src"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    lake.createTable("fo", StructType(Seq(StructField("id", LongType))))
    lake.addDataFiles("fo", Seq(f.toString))
    assert(lake.table("fo").count() == 20)
  }

  test("a lake.sql result keeps its call's snapshot and outlives detach") {
    val lake = freshLake()
    lake.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val rows = lake.sql("SELECT id, v FROM t WHERE id > 0 ORDER BY id")
    val n = lake.sql("SELECT COUNT(*) AS n FROM t")
    lake.sql("INSERT INTO t VALUES (3, 'c')")
    val before = Seq((1L, "a"), (2L, "b"))
    assert(rows.as[(Long, String)].collect().toSeq == before)
    assert(n.head().getLong(0) == 2L)
    val after = lake.sql("SELECT id FROM t ORDER BY id")
    lake.detach()
    assert(rows.as[(Long, String)].collect().toSeq == before)
    assert(after.as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }
}
