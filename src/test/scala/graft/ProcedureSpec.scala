package graft

import java.nio.file.Files

import graft.catalog.Lake
import graft.plans.LakeRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark 4 native `CALL graft.<proc>(…)` through the DSv2
  * ProcedureCatalog: typed/defaultable parameters, named arguments, and
  * the managed-MV procedures — no lake.sql string parsing involved. */
class ProcedureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withLake(f: Lake => Unit): Unit = {
    val dir = Files.createTempDirectory("graftproc").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try f(lake) finally LakeRegistry.unregister("graft")
  }

  test("maintenance procedures run via spark.sql CALL") {
    withLake { lake =>
      lake.createTableAs("t",
        (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
      assert(lake.listFiles("t").count() == 4)
      // compaction via native CALL, positional arg
      val merged = spark.sql("CALL graft.merge_adjacent_files('t')")
        .head().getLong(0)
      assert(merged > 0)
      assert(lake.table("t").count() == 40)
      // named arguments + defaults resolved by Spark's analyzer
      spark.sql("CALL graft.set_option(option_name => 'target_file_size'," +
        " value => '1048576', table_name => 't')")
      assert(lake.options().exists(_._1 == "target_file_size"))
      spark.sql("CALL graft.checkpoint('t')")
      // unknown procedure errors cleanly
      intercept[Exception](spark.sql("CALL graft.nope()").collect())
    }
  }

  test("CTAS with PARTITIONED BY through the DSv2 catalog") {
    withLake { lake =>
      spark.sql("CREATE TABLE graft.src_tmp AS SELECT * FROM VALUES " +
        "(1L, TIMESTAMP '1996-03-01 00:00:00'), " +
        "(2L, TIMESTAMP '1997-07-01 00:00:00'), " +
        "(3L, TIMESTAMP '1997-11-02 00:00:00') AS t(id, ts)")
      spark.sql("""CREATE TABLE graft.pt PARTITIONED BY (year(ts))
        |AS SELECT * FROM graft.src_tmp""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.pt")
        .head().getLong(0) == 3L)
      // partition spec landed in the catalog and produced hive paths
      val files = lake.listFiles("pt").select("data_file")
        .collect().map(_.getString(0))
      assert(files.exists(_.contains("1996")) &&
        files.exists(_.contains("1997")),
        s"expected year-partitioned paths, got ${files.toSeq}")
      // bucket transform spelling works too
      spark.sql("""CREATE TABLE graft.bt PARTITIONED BY (bucket(4, id))
        |AS SELECT id FROM graft.src_tmp""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.bt")
        .head().getLong(0) == 3L)
      spark.sql("DROP TABLE graft.src_tmp")
    }
  }

  test("managed MV procedures via spark.sql CALL") {
    withLake { lake =>
      lake.createTableAs("base",
        Seq((1L, "a", 10L), (2L, "b", 5L), (3L, "a", 7L))
          .toDF("id", "g", "v"))
      spark.sql("CALL graft.create_mv('mv', 'base', 'g', 'v_sum:v')")
      lake.append("base", Seq((4L, "c", 2L)).toDF("id", "g", "v"))
      lake.delete("base", col("id") === 2L)
      spark.sql("CALL graft.refresh_mv('mv')")
      val got = lake.table("mv").orderBy("g")
        .select("g", "n_rows", "v_sum")
        .as[(String, Long, Long)].collect().toSeq
      assert(got == Seq(("a", 2L, 17L), ("c", 1L, 2L)))
      // SHOW PROCEDURES lists the surface
      val showDf = spark.sql("SHOW PROCEDURES IN graft")
      val nameIdx = showDf.columns.indexWhere(_.contains("procedure"))
      val procs = showDf.collect().map(_.getString(nameIdx)).toSet
      assert(procs.contains("refresh_mv") &&
        procs.contains("merge_adjacent_files"))
    }
  }

  test("add_data_files, table-less flush_inlined_data and " +
      "rewrite_data_files max_compacted_files via spark.sql CALL") {
    withLake { lake =>
      // add_data_files registers a foreign parquet file in place
      val ext = Files.createTempDirectory("graftprocadd").resolve("f")
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
        .write.parquet(ext.toString)
      val file = ext.toFile.listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).head
      lake.createTable("ext", Seq((0L, "")).toDF("id", "v").schema)
      spark.sql("CALL graft.add_data_files(table_name => 'ext', " +
        s"files => array('$file'))")
      assert(lake.table("ext").orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((1L, "a"), (2L, "b")))

      // rewrite with max_compacted_files: two fully-deleted files, the
      // capped call rewrites one, the next call the other
      lake.createTableAs("r", Seq(1).toDF("k").coalesce(1))
      lake.append("r", Seq(2).toDF("k").coalesce(1))
      lake.delete("r", lit(true))
      assert(spark.sql("CALL graft.rewrite_data_files('r', " +
        "delete_threshold => 0.99, max_compacted_files => 1)")
        .head().getLong(0) == 1L)
      assert(spark.sql("CALL graft.rewrite_data_files('r', " +
        "delete_threshold => 0.99)").head().getLong(0) == 1L)

      // no table: flush every table's inlined rows
      lake.setOption("data_inlining_row_limit", "10")
      lake.createTable("a", Seq((1, "x")).toDF("id", "v").schema)
      lake.createTable("b", Seq((1, "x")).toDF("id", "v").schema)
      lake.append("a", Seq((1, "x"), (2, "y")).toDF("id", "v"))
      lake.append("b", Seq((3, "z")).toDF("id", "v"))
      assert(lake.listFiles("a").count() == 0)
      assert(spark.sql("CALL graft.flush_inlined_data()")
        .head().getLong(0) == 3L)
      assert(lake.listFiles("a").count() == 1 &&
        lake.listFiles("b").count() == 1)
      assert(lake.table("a").count() == 2 && lake.table("b").count() == 1)
    }
  }
}
