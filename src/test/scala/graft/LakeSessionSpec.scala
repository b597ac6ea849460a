package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Lake

/** LakeSession: the one-call production setup wires the extension, the
  * DSv2 catalog, AQE, the codegen defaults and the registry together. */
class LakeSessionSpec extends AnyFunSuite {

  /** A fresh LakeSession session (on the test JVM's SparkContext) with a
    * lake attached as `graft`. */
  private def withLakeSession(f: (SparkSession, Lake) => Unit): Unit = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = LakeSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dir = Files.createTempDirectory("graftsess").toString
      f(spark, LakeSession.attach(spark, s"$dir/cat", s"$dir/data"))
    } finally {
      LakeSession.detach()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("builder + attach give SQL DDL, DML and pruned reads in one call") {
    withLakeSession { (spark, lake) =>
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
      assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
      spark.sql("CREATE TABLE graft.t AS SELECT id FROM range(100)")
      spark.sql("INSERT INTO graft.t SELECT id + 100 FROM range(50)")
      spark.sql("DELETE FROM graft.t WHERE id >= 140")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.t")
        .head().getLong(0) == 140L)
      assert(lake.table("t").count() == 140)
      spark.sql("CREATE VIEW graft.v AS SELECT id FROM graft.t WHERE id < 10")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v")
        .head().getLong(0) == 10L)
    }
  }

  // The compile count is per JVM: this case relies on no other suite
  // running beside it in the same test JVM (suites of one forked group
  // run one after another).
  test("a repeated lake pipeline compiles once, at any codegen stage id") {
    withLakeSession { (spark, _) =>
      spark.sql("CREATE TABLE graft.c AS SELECT id, id % 10 AS v " +
        "FROM range(1000)")
      def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = "SELECT id, v FROM graft.c WHERE v > 7"
      // q's scan-and-filter pipeline is the union's codegen stage 2
      val u = s"SELECT id, v FROM graft.c WHERE v < 2 UNION ALL $q"
      assert(spark.sql(u).collect().length == 400)
      val first = compiles()
      assert(spark.sql(u).collect().length == 400)
      assert(compiles() == first, "the repeated query compiled again")
      // the same pipeline alone is stage 1
      assert(spark.sql(q).collect().length == 200)
      assert(compiles() == first,
        "the pipeline at another stage id compiled again")
    }
  }
}
