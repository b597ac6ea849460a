package graft

import java.nio.file.Files

import graft.catalog.Lake
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guarantees of the scan path (SCALE.md §2): plain reads are
  * bare parquet scans; joins appear only when deletes/virtual columns
  * require them. */
class ScanPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("plain scan with no deletes has no join in the plan") {
    val dir = Files.createTempDirectory("graftsp").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", (1L to 100L).toDF("id"))
    val plan = lake.table("t").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(plan.contains("FileScan parquet"))
    // filters still push down through the fast path
    val fplan = lake.table("t", Some(col("id") > 50L))
      .queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,50)]"),
      s"filter not pushed:\n$fplan")
  }

  test("DataFrame-path filter reaches CATALOG file pruning") {
    // guards the Column→Expression conversion: Spark 4 Columns are node
    // trees; if extraction sees only a lazy wrapper, stats pruning
    // silently turns off and every file is scanned
    val dir = Files.createTempDirectory("graftsp4").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", (1L to 100L).toDF("id").coalesce(1))
    lake.append("t", (101L to 200L).toDF("id").coalesce(1))
    val df = lake.table("t", Some(col("id") > 150L))
    val nFiles = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    assert(nFiles == 1, s"catalog pruning missing: scanned $nFiles files")
    assert(df.count() == 50)
    // conjunctions and equality prune too
    val df2 = lake.table("t",
      Some(col("id") >= 10L && col("id") <= 20L))
    val n2 = df2.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    assert(n2 == 1 && df2.count() == 11)
  }

  test("year(ts) predicates prune files via the monotone rewrite") {
    val dir = Files.createTempDirectory("graftspyr").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    def rows(y0: Int, y1: Int) =
      (0 until 50).map(i => (y0 * 100L + i,
        java.sql.Timestamp.valueOf(s"$y0-0${i % 9 + 1}-1${i % 8} 12:00:00")))
        .toDF("id", "ts")
    lake.createTableAs("t", rows(1995, 1996).coalesce(1))
    lake.append("t", rows(1997, 1998).coalesce(1))
    lake.append("t", rows(1999, 2000).coalesce(1))
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
    // year(ts) >= 1999 → only the third file
    val ge = lake.table("t", Some(year(col("ts")) >= 1999))
    assert(scanned(ge) == 1, s"year>= pruning missing: ${scanned(ge)}")
    assert(ge.count() == 50)
    // year(ts) = 1997 → only the middle file
    val eq = lake.table("t", Some(year(col("ts")) === 1997))
    assert(scanned(eq) == 1)
    assert(eq.count() == 50)
    // year(ts) < 1997 → only the first file
    val lt = lake.table("t", Some(year(col("ts")) < 1997))
    assert(scanned(lt) == 1)
    assert(lt.count() == 50)
    lake.detach()
  }

  test("epoch-mapped scan (post-rename) still pushes filters to parquet") {
    val dir = Files.createTempDirectory("graftsp3").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t",
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v"))
    lake.renameColumn("t", "v", "doubled")
    val df = lake.table("t", Some(col("doubled") > 100L))
    // filter lands on the renamed projection but must reach the scan
    // under the file's ORIGINAL column name
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"mapping must stay join-free:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,100)]"),
      s"filter not pushed through the epoch projection:\n$plan")
    assert(df.count() == 50)
    // mixed epochs: post-rename appends produce a second scan branch,
    // each with its own pushdown
    lake.append("t", Seq((200L, 500L)).toDF("id", "doubled"))
    val plan2 = lake.table("t", Some(col("doubled") > 100L))
      .queryExecution.executedPlan.toString
    assert(plan2.contains("GreaterThan(v,100)") &&
      plan2.contains("GreaterThan(doubled,100)"),
      s"per-epoch pushdown missing:\n$plan2")
  }

  test("join-filter repruning scans only files covering the dim key range") {
    val dir = Files.createTempDirectory("graftsp5").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("fact",
      (1L to 100L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1))
    lake.append("fact",
      (101L to 200L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1))
    lake.append("fact",
      (201L to 300L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1))
    val dim = Seq((120L, "a"), (180L, "b")).toDF("k", "tag")
    val fact = lake.tableJoinPruned("fact", "k", dim.select("k"))
    val nFiles = fact.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    assert(nFiles == 1,
      s"dim range [120,180] must prune to the middle file, scanned $nFiles")
    // the join over the pruned scan is exact
    val joined = fact.join(broadcast(dim), "k")
    assert(joined.collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[String]("tag"))).toSet ==
      Set((120L, "a"), (180L, "b")))
    // empty dim side → empty scan, no files read
    val empty = lake.tableJoinPruned("fact", "k",
      dim.select("k").filter(lit(false)))
    assert(empty.count() == 0)
  }

  test("IN-list predicates prune files via the [min,max] envelope") {
    val dir = Files.createTempDirectory("graftsp6").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", (1L to 100L).toDF("id").coalesce(1))
    lake.append("t", (101L to 200L).toDF("id").coalesce(1))
    lake.append("t", (201L to 300L).toDF("id").coalesce(1))
    val df = lake.table("t", Some(col("id").isin(110L, 150L, 190L)))
    val nFiles = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    assert(nFiles == 1, s"IN envelope [110,190] must prune to 1 file, got $nFiles")
    assert(df.collect().map(_.getLong(0)).toSet == Set(110L, 150L, 190L))

    // OR disjunctions on one column prune via the union envelope
    def scanned(f: org.apache.spark.sql.Column): Int =
      lake.table("t", Some(f)).queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
    assert(scanned(col("id") === 110L || col("id") === 190L) == 1)
    assert(scanned((col("id") >= 105L && col("id") <= 120L) ||
      col("id") === 180L) == 1)
    // different columns (or unbounded unions) keep the full list — the
    // envelope only ever SHRINKS correct scans
    val or2 = lake.table("t",
      Some(col("id") === 110L || col("id") === 290L))
    assert(or2.collect().map(_.getLong(0)).toSet == Set(110L, 290L))
  }

  test("IS NULL scans only files whose stats admit nulls") {
    val dir = Files.createTempDirectory("graftsp7").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    def part(ids: Range, withNulls: Boolean) =
      ids.map(_.toLong).toDF("id").select(col("id"),
        (if (withNulls) when(col("id") % 10 === 0, col("id"))
         else col("id")).as("v")).coalesce(1)
    lake.createTableAs("t", part(1 to 100, withNulls = false))
    lake.append("t", part(101 to 200, withNulls = true))
    lake.append("t", part(201 to 300, withNulls = false))
    val df = lake.table("t", Some(col("v").isNull))
    val nFiles = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    assert(nFiles == 1, s"IS NULL must prune null-free files, got $nFiles")
    assert(df.count() == 90) // the one nullable file: ids 101-200, 10 kept
  }

  test("deletes switch the scan to the anti-join path; results correct") {
    val dir = Files.createTempDirectory("graftsp2").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", (1L to 100L).toDF("id"))
    lake.delete("t", col("id") <= 10L)
    val plan = lake.table("t").queryExecution.executedPlan.toString
    assert(plan.contains("Join"), "delete filter requires the join path")
    assert(lake.table("t").count() == 90)
  }

  test("point DELETE reads only the file its key can be in") {
    val dir = Files.createTempDirectory("graftsp8").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    // four key-clustered files: ids 1-100, 101-200, 201-300, 301-400
    lake.createTableAs("t", (1L to 100L).toDF("id").coalesce(1))
    (1 to 3).foreach(i =>
      lake.append("t", (i * 100L + 1 to i * 100L + 100).toDF("id").coalesce(1)))
    val dataFiles = lake.listFiles("t").select("data_file").as[String]
      .collect().map(_.split('/').last).toSet
    assert(dataFiles.size == 4)
    // every file scan of the table's data files, summed over the
    // executions the DELETE runs (AQE off: executedPlan is the real plan)
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        reads.addAndGet(qe.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.flatMap(_.relation.location.inputFiles)
          .count(f => dataFiles.contains(f.split('/').last)).toLong): Unit
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      assert(lake.delete("t", col("id") === 150L) == 1L)
      org.apache.spark.graft.ShuffleReset.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    // the matched positions are evaluated once (one checkpoint feeds the
    // inlined-row check and the per-file counts), over the one file
    // holding id 150
    assert(reads.get() == 1L, s"point delete read ${reads.get()} data files")
    assert(lake.table("t").count() == 399)
  }

  /** data files of `lake`'s table `name` read by the scans of every query
    * `body` executes (AQE off: executedPlan is the real plan) */
  private def dataFileReads(lake: Lake, name: String)(body: => Unit): Long = {
    val dataFiles = lake.listFiles(name).select("data_file").as[String]
      .collect().map(_.split('/').last).toSet
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        reads.addAndGet(qe.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.flatMap(_.relation.location.inputFiles)
          .count(f => dataFiles.contains(f.split('/').last)).toLong): Unit
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.ShuffleReset.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    reads.get()
  }

  test("lake.sql point SELECT reads only the file its key can be in") {
    val dir = Files.createTempDirectory("graftsp9").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    // four key-clustered files: ids 1-100, 101-200, 201-300, 301-400
    lake.createTableAs("t", (1L to 100L).toDF("id").coalesce(1))
    (1 to 3).foreach(i =>
      lake.append("t", (i * 100L + 1 to i * 100L + 100).toDF("id").coalesce(1)))
    assert(lake.listFiles("t").count() == 4)
    val reads = dataFileReads(lake, "t") {
      assert(lake.sql("SELECT id FROM t WHERE id = 150").as[Long].collect()
        .toSeq == Seq(150L))
    }
    // the predicate reaches catalog stats pruning, as on spark.sql's path
    assert(reads == 1L, s"point SELECT read $reads data files")
  }

  test("MERGE reads each target file once") {
    val dir = Files.createTempDirectory("graftsp9").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("t", (1L to 100L).map(i => (i, "a")).toDF("id", "v")
      .coalesce(1))
    (1 to 3).foreach(i => lake.append("t", (i * 100L + 1 to i * 100L + 100)
      .map(k => (k, "a")).toDF("id", "v").coalesce(1)))
    val src = Seq((150L, "m"), (250L, "m"), (999L, "n")).toDF("id", "v")
    val reads = dataFileReads(lake, "t") {
      assert(lake.merge("t", src, "id",
        whenMatchedUpdate = Some(Map("v" -> col("s.v")))) == 3L)
    }
    assert(reads == 4L, s"MERGE read $reads data files of 4")
    assert(lake.table("t").count() == 401L)
    assert(lake.table("t").filter(col("v") =!= "a").count() == 3L)
  }

  test("stats pruning on an NTZ column compared with TIMESTAMP values") {
    val dir = Files.createTempDirectory("graftsp10").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    // eight files range-clustered by an NTZ column, nine months apart,
    // each spanning 245 days
    val start = java.time.LocalDateTime.of(1992, 1, 1, 0, 0)
    val ranges = (0 until 8).map { i =>
      val lo = start.plusMonths(9L * i)
      (i, lo, lo.plusDays(245))
    }
    ranges.foreach { case (i, lo, _) =>
      val rows = (0 until 50).map(j => (i * 100L + j, lo.plusDays(5L * j)))
        .toDF("id", "ts").coalesce(1)
      if (i == 0) lake.createTableAs("n", rows) else lake.append("n", rows)
    }
    assert(lake.table("n").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val all = lake.table("n").as[(Long, java.time.LocalDateTime)].collect()
    val (y0, y1) = (java.time.Instant.parse("1996-01-01T00:00:00Z"),
      java.time.Instant.parse("1997-01-01T00:00:00Z"))
    // rows and files whose local times, read in `zone`, fall in [y0, y1)
    def in(zone: String)(t: java.time.LocalDateTime, atEnd: Boolean) = {
      val i = t.atZone(java.time.ZoneId.of(zone)).toInstant
      if (atEnd) !i.isBefore(y0) else i.isBefore(y1)
    }
    def expected(zone: String) = all.filter { case (_, t) =>
      in(zone)(t, atEnd = true) && in(zone)(t, atEnd = false)
    }.map(_._1).sorted.toSeq
    def overlapping(zone: String) = ranges.count { case (_, lo, hi) =>
      in(zone)(hi, atEnd = true) && in(zone)(lo, atEnd = false) }
    def run(df: => org.apache.spark.sql.DataFrame): (Long, Seq[Long]) = {
      var got = Seq.empty[Long]
      val reads = dataFileReads(lake, "n") {
        got = df.as[Long].collect().sorted.toSeq
      }
      (reads, got)
    }
    val ts = col("ts").cast("timestamp")
    def castFilter =
      lake.table("n", Some(ts >= lit(y0) && ts < lit(y1))).select("id")
    graft.plans.LakeRegistry.register("graft", lake)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // SQL compares the raw column with the literal cast to NTZ: the
      // folded literal prunes to exactly the overlapping files
      assert(overlapping("UTC") == 2)
      assert(run(spark.sql("SELECT id FROM graft.n WHERE ts >= TIMESTAMP " +
        "'1996-01-01 00:00:00' AND ts < TIMESTAMP '1997-01-01 00:00:00'")) ==
        (2L, expected("UTC")))
      // cast(ts AS TIMESTAMP) unwraps in a fixed-offset zone
      for (zone <- Seq("UTC", "+05:00")) {
        spark.conf.set("spark.sql.session.timeZone", zone)
        assert(run(castFilter) == (overlapping(zone).toLong, expected(zone)),
          s"in zone $zone")
      }
      // a zone with DST keeps that conjunct out of pruning
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(run(castFilter) == (8L, expected("America/Los_Angeles")))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", tz)
      graft.plans.LakeRegistry.unregister("graft")
    }
  }

  test("a literal cast that fails is left to the row filter, not pruning") {
    val dir = Files.createTempDirectory("graftsp11").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    lake.createTableAs("f", (1L to 20L).map(i => (i,
      java.time.LocalDateTime.of(2000, 1, 1, 0, 0).plusDays(i)))
      .toDF("id", "ts").coalesce(1))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    graft.plans.LakeRegistry.register("graft", lake)
    try {
      // each failing cast sits in a branch no row takes (id >= 1), which
      // Spark's ConstantFolding leaves unfolded, so the query succeeds
      for ((cond, n) <- Seq(
          "IF(id < 0, CAST('x' AS INT) = 1, false)" -> 0L,
          "IF(id < 0, ts = CAST('x' AS TIMESTAMP), true)" -> 20L,
          "CASE WHEN id < 0 THEN ts >= CAST('x' AS TIMESTAMP_NTZ) " +
            "ELSE id <= 5 END" -> 5L))
        assert(spark.sql(s"SELECT id FROM graft.f WHERE $cond").count() == n,
          cond)
      val bad = when(col("id") < 0L, lit("x").cast("timestamp") === col("ts"))
        .otherwise(col("id") <= 5L)
      assert(lake.table("f", Some(bad)).count() == 5L)
      assert(lake.delete("f", bad) == 5L)
      assert(lake.table("f").count() == 15L)
    } finally {
      graft.plans.LakeRegistry.unregister("graft")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
    }
  }
}
