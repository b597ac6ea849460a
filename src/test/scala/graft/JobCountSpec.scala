package graft

import java.nio.file.Files

import graft.catalog.Lake
import graft.plans.LakeRegistry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-efficiency regressions: operators that must execute as ONE Spark
  * job (no hidden driver-side actions that re-scan inputs). A funnel that
  * issues one job per stage scans the events table once per stage; at corpus
  * scale that multiplies the dominant cost (the scan) by the stage count. */
class JobCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** AQE materializes each query stage as its own job, which would hide a
    * driver-side-action regression behind a constant; count with AQE off so
    * one query == one job exactly. */
  private def withoutAqe[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async; drain it before reading the counter
      org.apache.spark.graft.ShuffleReset.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  // warm the parquet schema-inference cache (a one-task footer-read job at
  // first `spark.read.parquet` per path) so the counts below isolate query
  // construction + execution
  private def warm(name: String): Unit =
    SparkEntry.queries(name)(spark, dir): Unit

  test("cb_funnel executes as a single Spark job") {
    withoutAqe {
      warm("cb_funnel")
      // count over construction AND execution: the old funnel ran three
      // driver `count()` actions during construction (3 jobs, events
      // scanned per stage) — this pins the single-job plan
      val n = jobsDuring {
        SparkEntry.queries("cb_funnel")(spark, dir).collect(): Unit
      }
      assert(n == 1, s"cb_funnel ran $n jobs; expected 1")
    }
  }

  test("cb_gap_stats executes as a single Spark job") {
    withoutAqe {
      warm("cb_gap_stats")
      val n = jobsDuring {
        SparkEntry.queries("cb_gap_stats")(spark, dir).collect(): Unit
      }
      assert(n == 1, s"cb_gap_stats ran $n jobs; expected 1")
    }
  }

  test("small DML through SQL: 1-row INSERT and point DELETE job counts; " +
      "lake.sql INSERT … SELECT evaluates its query once") {
    import spark.implicits._
    withoutAqe {
      val dir = Files.createTempDirectory("graftjobs").toString
      val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
      LakeRegistry.register("graft", lake)
      try {
        lake.createTableAs("t", (1L to 100L).toDF("id").coalesce(1))
        (1 to 3).foreach(i => lake.append("t",
          (i * 100L + 1 to i * 100L + 100).toDF("id").coalesce(1)))
        spark.sql("INSERT INTO graft.t VALUES (1000)").collect(): Unit
        val ins = jobsDuring {
          spark.sql("INSERT INTO graft.t VALUES (1001)").collect(): Unit
        }
        // job counts of the previous release: 4 and 6
        assert(ins <= 4, s"1-row INSERT ran $ins jobs")
        val del = jobsDuring {
          spark.sql("DELETE FROM graft.t WHERE id = 150").collect(): Unit
        }
        assert(del <= 6, s"point DELETE ran $del jobs")

        // a nondeterministic probe in the WHERE clause counts how often
        // the query's 10 source rows are evaluated
        lake.createTableAs("s", (1L to 10L).toDF("id"))
        val evals = spark.sparkContext.longAccumulator("probe")
        spark.udf.register("probe",
          udf((x: Long) => { evals.add(1); x }).asNondeterministic())
        assert(lake.sql("INSERT INTO t SELECT id + 2000 FROM s " +
          "WHERE probe(id) > 0").head().getLong(0) == 10L)
        assert(evals.value == 10L,
          s"INSERT … SELECT evaluated its query ${evals.value / 10.0} times")
      } finally LakeRegistry.unregister("graft")
    }
  }

  test("small DML evaluates its matched rows once: UPDATE, MERGE and " +
      "DELETE job counts; MERGE source and UPDATE condition run once per row") {
    import spark.implicits._
    withoutAqe {
      val dir = Files.createTempDirectory("graftdmljobs").toString
      val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
      LakeRegistry.register("graft", lake)
      try {
        // four key-clustered files of 100 rows
        (0 until 4).foreach { i =>
          val rows = (i * 100L + 1 to i * 100L + 100).map(k => (k, "a"))
            .toDF("id", "v").coalesce(1)
          if (i == 0) lake.createTableAs("u", rows) else lake.append("u", rows)
        }
        val upd = jobsDuring {
          assert(spark.sql("UPDATE graft.u SET v = 'b' WHERE id = 150")
            .head().getLong(0) == 1L)
        }
        // job counts of the previous release (AQE off): 11, 31 and 6
        assert(upd <= 6, s"1-row UPDATE ran $upd jobs")
        val src = (395L to 404L).map(k => s"(${k}L, 'm')").mkString(", ")
        val mrg = jobsDuring {
          assert(spark.sql(s"MERGE INTO graft.u t USING (SELECT * FROM " +
            s"VALUES $src AS s(id, v)) s ON t.id = s.id WHEN MATCHED THEN " +
            "UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            .head().getLong(0) == 10L)
        }
        // 1 count, 2 × (write, stats) for the rewritten and inserted
        // files, 2 for the delete file, and 4 broadcasts: the target side,
        // its delete rows, and the file list of each of its two scan
        // groups (the UPDATE above left a row-id-materialized file)
        assert(mrg <= 11, s"10-row MERGE ran $mrg jobs")
        val del = jobsDuring {
          assert(spark.sql("DELETE FROM graft.u WHERE id = 250")
            .head().getLong(0) == 1L)
        }
        assert(del <= 4, s"point DELETE ran $del jobs")

        // a nondeterministic probe counts evaluations per input row (the
        // previous release: 5 per MERGE source row, 4 per UPDATE row)
        val evals = spark.sparkContext.longAccumulator("dmlprobe")
        val probe = udf((x: Long) => { evals.add(1); x }).asNondeterministic()
        spark.udf.register("dmlprobe", probe)
        lake.createTableAs("s", (1L to 10L).map(k => (k * 100, "s"))
          .toDF("id", "v"))
        assert(spark.sql("MERGE INTO graft.u t USING (SELECT dmlprobe(id) " +
          "AS id, v FROM graft.s) s ON t.id = s.id WHEN MATCHED THEN " +
          "UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          .head().getLong(0) == 10L)
        assert(evals.value == 10L,
          s"MERGE evaluated its source ${evals.value / 10.0} times")
        val rows = lake.table("u").count()
        evals.reset()
        // (Spark's analyzer rejects a nondeterministic SQL UPDATE condition)
        assert(lake.update("u", Map("v" -> lit("c")),
          probe(col("id")) === 42L) == 1L)
        assert(evals.value == rows,
          s"UPDATE evaluated its condition ${evals.value.toDouble / rows} " +
            "times per row")
        assert(lake.table("u").count() == rows)
      } finally LakeRegistry.unregister("graft")
    }
  }
}
