package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PHYSICAL plan shape of the headline bench queries under the
  * bench regime (AQE off, file-size broadcasts) so a perf regression
  * fails a test instead of only showing up in the next round's
  * BENCH_r{N}.json: the broadcast decisions, the shuffle counts, and the
  * parquet filter pushdown are exactly what SCALE.md par.4/par.9 argue
  * from. Shapes are scale-free (they depend on which side broadcasts and
  * where exchanges sit, not on row counts), so sf0.001 is enough.
  */
class HeadlinePlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planned(name: String): SparkPlan = {
    // bench regime: static planner, generous file-size broadcast bar
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def count(p: SparkPlan)(f: SparkPlan => Boolean): Int =
    p.collectWithSubqueries { case n if f(n) => 1 }.sum

  private def shuffles(p: SparkPlan): Int =
    count(p)(_.isInstanceOf[ShuffleExchangeExec])

  private def nonBroadcastJoins(p: SparkPlan): Int =
    count(p)(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec])

  test("q5_join: every join side broadcasts, ONE fact exchange (the " +
    "5-row nation aggregate)") {
    val p = planned("q5_join")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 1, p.toString.take(2000))
    assert(count(p)(_.isInstanceOf[BroadcastExchangeExec]) >= 2)
  }

  test("q18: HAVING survivors broadcast — one exchange total (the " +
    "lineitem aggregation), orders and customer never shuffle") {
    val p = planned("q18_large_orders")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 1, p.toString.take(2000))
  }

  test("q_date_trunc: two-phase aggregate, exactly one exchange, no sort " +
    "exchange for the bounded output") {
    val p = planned("q_date_trunc")
    assert(shuffles(p) == 1, p.toString.take(2000))
  }

  test("cb_gap_stats (secondary-sort streaming fold): exactly ONE " +
    "exchange — repartition(user), sort within, one streaming pass") {
    // the fold runs over InternalRow behind a Scan ExistingRDD leaf, so
    // the exchange lives in the RDD LINEAGE, not the visible plan —
    // count ShuffleDependencies the way the bench's reset does
    val p = planned("cb_gap_stats")
    val lineage = org.apache.spark.graft.ShuffleReset
      .shuffleIds(p.execute())
    assert(shuffles(p) + lineage.size == 1,
      s"plan=${shuffles(p)} lineage=${lineage.size}\n" +
        p.toString.take(2000))
  }

  test("cb_gap_bucket (skew-guarded alternative): exactly two exchanges " +
    "— (user, bucket) partials then user summaries") {
    val p = planned("cb_gap_bucket")
    assert(shuffles(p) == 2, p.toString.take(2000))
  }

  test("q6_filter: predicates reach the parquet scan and the plan has " +
    "zero shuffles before the scalar aggregate") {
    val p = planned("q6_filter")
    assert(shuffles(p) == 1, p.toString.take(2000)) // the 1-row final agg
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata.get("PushedFilters").exists(f =>
      f.contains("l_shipdate") || f.contains("l_discount")),
      scans.head.metadata.get("PushedFilters").toString)
  }

  test("q1_agg: scan -> partial agg -> one exchange -> final agg") {
    val p = planned("q1_agg")
    assert(shuffles(p) == 1, p.toString.take(2000))
  }

  // ---- round-13 tpch22 tail rework (SCALE.md §13, plans/r13/) ----

  test("q4_priority: EXISTS as broadcast probe — lineitem never " +
    "shuffles; the three exchanges carry bounded pair/priority rows") {
    val p = planned("q4_priority")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 3, p.toString.take(2000)) // distinct, agg, sort
  }

  test("q10_returned: late materialization — customer joins 20 rows " +
    "via broadcast, no sort-merge join anywhere") {
    val p = planned("q10_returned")
    assert(count(p)(_.isInstanceOf[SortMergeJoinExec]) == 0,
      p.toString.take(2000))
    // the hinted fact join (2 exchanges) + the custkey aggregation —
    // customer itself feeds the final broadcast join unshuffled
    assert(shuffles(p) == 3, p.toString.take(2000))
  }

  test("q14_promo_share: slim (p_partkey, p_type) broadcast probe — " +
    "single scalar-agg exchange, no fact shuffle") {
    val p = planned("q14_promo_share")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 1, p.toString.take(2000))
    val bcastWidths = p.collectWithSubqueries {
      case b: BroadcastExchangeExec => b.child.output.size
    }
    assert(bcastWidths == Seq(2), s"broadcast payload widths $bcastWidths")
  }

  test("q17_small_qty: |part|-bounded average aggregate broadcasts — " +
    "the fact probe side never exchanges (the 25x find)") {
    val p = planned("q17_small_qty")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 2, p.toString.take(2000)) // avgQty agg + final agg
  }

  test("q16_supplier_cnt: the fact-wide stage dedups NARROW " +
    "(partkey, suppkey) long pairs — no string-keyed aggregate sees " +
    "fact-sized input, no non-broadcast join") {
    val p = planned("q16_supplier_cnt")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 3, p.toString.take(2000)) // pairs, attrs, count
    // the exchange whose subtree scans lineitem (the only fact-scaled
    // one) must carry only LONG columns: the 16-byte (partkey, suppkey)
    // pair, not (brand, type, size, suppkey) strings per fact row
    val factExchanges = p.collectWithSubqueries {
      case e: ShuffleExchangeExec
        if e.child.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("lineitem")) => s
        }.nonEmpty &&
          e.child.collect { case x: ShuffleExchangeExec => x }.isEmpty => e
    }
    assert(factExchanges.size == 1, p.toString.take(2000))
    assert(factExchanges.head.child.output.forall(
      _.dataType == org.apache.spark.sql.types.LongType),
      factExchanges.head.child.output
        .map(a => s"${a.name}:${a.dataType}").toString)
  }

  // ---- round-14: scale-safe broadcast hints (VERDICT r13 item 3) ----

  /** Plan of IncrementalView's recompute input for two dirty groups of a
    * fresh view (built under the caller's session settings). */
  private def dirtyGroupPlan(): SparkPlan = {
    import org.apache.spark.sql.functions.col
    val d = java.nio.file.Files.createTempDirectory("graftmvplan").toString
    val lake = graft.catalog.Lake.attach(spark, s"$d/cat", s"$d/data")
    lake.createTableAs("base", spark.range(100)
      .select((col("id") % 10).as("g"), col("id").as("v")))
    graft.operators.IncrementalView.materialize(lake, "base", "mv",
      Seq("g"), Seq("s" -> col("v")))
    val dirty = spark.range(2).select(col("id").as("g"))
    graft.operators.IncrementalView.dirtyGroupRows(lake, "base", "mv",
      lake.currentSnapshotId(), dirty, Seq("g"))
      .queryExecution.executedPlan
  }

  test("IncrementalView: under the cap the dirty-group keys broadcast") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = dirtyGroupPlan()
      assert(count(p)(_.isInstanceOf[BroadcastExchangeExec]) == 1,
        p.toString.take(2000))
      assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("boundedBroadcast: when the bounding-table estimate exceeds the " +
    "cap the hint DROPS and the plan degrades to a shuffle join — the " +
    "100 TB behavior, where a pinned broadcast() would OOM the driver") {
    // cap 0 = every estimate over it; threshold -1 = the planner can't
    // re-pick broadcast from sf0.001 file sizes on its own
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.graft.broadcast.cap", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // every broadcast in these is a bounded hint on an O(SF) side
      // (q9/q7/q8 keep their fixed-25-row nation hints — excluded)
      for (q <- Seq("q4_priority", "q17_small_qty", "q20_excess_supply",
        "q14_promo_share", "q16_supplier_cnt", "lake_join_prune")) {
        val p = SparkEntry.queries(q)(spark, dir)
          .queryExecution.executedPlan
        assert(count(p)(_.isInstanceOf[BroadcastExchangeExec]) == 0,
          s"$q still broadcasts under cap=0:\n" + p.toString.take(2000))
        assert(nonBroadcastJoins(p) >= 1,
          s"$q lost its join entirely:\n" + p.toString.take(2000))
      }
      // the incremental view's dirty-group semi-join
      val p = dirtyGroupPlan()
      assert(count(p)(_.isInstanceOf[BroadcastExchangeExec]) == 0,
        "dirty keys still broadcast under cap=0:\n" + p.toString.take(2000))
      assert(nonBroadcastJoins(p) == 1, p.toString.take(2000))
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.graft.broadcast.cap")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q20_excess_supply: aggregate and window share ONE exchange " +
    "(repartition on l_partkey satisfies both); excess set broadcasts") {
    val p = planned("q20_excess_supply")
    assert(nonBroadcastJoins(p) == 0, p.toString.take(2000))
    assert(shuffles(p) == 2, p.toString.take(2000)) // shared + final sort
    // the shared exchange: no second exchange may sit between the
    // aggregate and the window
    val windows = count(p)(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec])
    assert(windows == 1, p.toString.take(2000))
  }
}
