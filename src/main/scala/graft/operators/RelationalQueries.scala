package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import graft.QueryDsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The delegated relational engine surface (SURVEY.md §2b): filtered
  * aggregation, multi-joins, semi/anti joins, windows, grouping sets, set
  * ops, top-k, scalar subqueries, string/date functions — expressed with the
  * DataFrame API so Catalyst plans them (broadcast joins for dims, partial
  * aggregation, TakeOrderedAndProject for top-k).
  *
  * Query shapes follow the reference's TPC-H benchmark corpus
  * (reference benchmark/tpch/q01.benchmark..q22.benchmark, which drive
  * DuckDB's q01..q22 templates) adapted to the driver star schema columns.
  *
  * Measure arithmetic uses the scaled-long scheme from [[graft.QueryDsl]]:
  * exact integer sums (order-independent, fast codegen) with an identical
  * final double-conversion tree in the Spark and DuckDB formulations.
  */
object RelationalQueries extends QueryPack {

  /** TPC-H q1 shape: filtered scan + hash aggregate (reference
    * benchmark/tpch/q01.benchmark). */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val p2 = sl2(col("l_extendedprice"))
    val d4 = sl4(col("l_discount"))
    val t4 = sl4(col("l_tax"))
    // charge = Σ p·(1−d)·(1+t) decomposed into three long sums so no term
    // overflows; recombined with the same IEEE double tree as the oracle.
    val chS1 = sum(p2).cast("double")
    val chS2 = sum(p2 * (t4 - d4)).cast("double")
    val chS3 = sum(p2 * d4 * t4).cast("double")
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        lsum(sl2(col("l_quantity")), 100.0).as("sum_qty"),
        lsum(p2, 100.0).as("sum_base_price"),
        revenue(col("l_extendedprice"), col("l_discount"))
          .as("sum_disc_price"),
        ((chS1 * lit(1.0e8) + chS2 * lit(1.0e4) - chS3) / lit(1.0e10))
          .as("sum_charge"),
        (lsum(sl2(col("l_quantity")), 100.0) / count(lit(1))).as("avg_qty"),
        (lsum(p2, 100.0) / count(lit(1))).as("avg_price"),
        (lsum(d4, 10000.0) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      // bounded output (returnflag × linestatus — a handful of groups at
      // ANY scale): a single-task final sort beats a global range
      // exchange + sampling pass, and the map-side partial agg upstream
      // already did the data-sized work in parallel.
      .coalesce(1)
      .sortWithinPartitions(col("l_returnflag"), col("l_linestatus"))
  }

  private val q1Sql = {
    val p2 = oSl2("l_extendedprice")
    val d4 = oSl4("l_discount")
    val t4 = oSl4("l_tax")
    s"""SELECT l_returnflag, l_linestatus,
       |  ${oLsum(oSl2("l_quantity"), "100.0")} AS sum_qty,
       |  ${oLsum(p2, "100.0")} AS sum_base_price,
       |  ${oRevenue("l_extendedprice", "l_discount")} AS sum_disc_price,
       |  (CAST(CAST(SUM($p2) AS BIGINT) AS DOUBLE) * 100000000.0
       |   + CAST(CAST(SUM($p2 * ($t4 - $d4)) AS BIGINT) AS DOUBLE) * 10000.0
       |   - CAST(CAST(SUM($p2 * $d4 * $t4) AS BIGINT) AS DOUBLE)) / 10000000000.0 AS sum_charge,
       |  ${oLsum(oSl2("l_quantity"), "100.0")} / COUNT(*) AS avg_qty,
       |  ${oLsum(p2, "100.0")} / COUNT(*) AS avg_price,
       |  ${oLsum(d4, "10000.0")} / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** TPC-H q3 shape: 3-way join + agg + top-k by computed measure
    * (reference benchmark/tpch/q03.benchmark). */
  private def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    t.lineitem
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .join(t.orders.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      // customer grows with SF: hint only while its footprint fits the cap
      .join(boundedBroadcast(cust, t.bytesOf("customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q3 A/B formulation (round-12 ask): the global top-10 computed by
    * [[graft.functions.BoundedTopK]] as a regular aggregate (k-row
    * buffer, map-side partials — the exchange carries ≤10 rows per map
    * partition) instead of TakeOrderedAndProject. Same oracle as
    * q3_topk; registered as its own query, so Verify and the tests run
    * it. Outcome recorded in bench_runs/README (round 12). */
  private[graft] def q3Bounded(spark: SparkSession, dir: String)
      : DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    t.lineitem
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .join(t.orders.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(boundedBroadcast(cust, t.bytesOf("customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .agg(graft.functions.BoundedTopK.boundedTopK(10,
        struct(-col("revenue"), col("l_orderkey")),
        struct(col("l_orderkey"), col("odate"), col("revenue"))).as("top"))
      .select(explode(col("top")).as("r"))
      .select(col("r.l_orderkey"), col("r.odate"), col("r.revenue"))
  }

  private val q3Sql =
    s"""SELECT l_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS odate,
       |  ${oRevenue("l_extendedprice", "l_discount")} AS revenue
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
       |  AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY l_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d')
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** TPC-H q5 shape: 6-way snowflake join + agg (reference
    * benchmark/tpch/q05.benchmark). Dims broadcast; fact join keys shuffle. */
  private def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Fold the snowflake INTO the broadcast build sides: the fact probe
    // loop then hits exactly TWO slim hash tables per lineitem row —
    // (o_orderkey → c_nationkey), built by pre-joining filtered orders
    // with customer, and (s_suppkey, s_nationkey → n_name), built by
    // pre-joining supplier with the ASIA nations — instead of chasing
    // orders → customer → supplier → nation through four tables. The
    // pre-joins run once at broadcast-build time (their own small sides
    // broadcast into them), the broadcast payloads SHRINK (2-3 columns),
    // and the ASIA filter lands in the supplier table so 80% of probes
    // miss-and-exit early — strictly better at every scale.
    // semi-join reduction: the final join demands c_nationkey =
    // s_nationkey with s restricted to ASIA, so only ASIA customers can
    // ever survive — filtering customer by the 5 ASIA nation keys FIRST
    // shrinks the broadcast build ~5× (the driver-side hash-table build
    // is the measured q5 bottleneck at sf10) and drops the probe hit
    // rate, so misses exit early
    val asiaNations = t.nation
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val custAsia = t.customer
      .join(broadcast(asiaNations.select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "leftsemi")
    val ordNation = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val suppAsia = t.supplier
      .join(broadcast(t.nation
        .join(t.region.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t.lineitem
      // both build sides GROW with SF (1-year ASIA-customer orders slice
      // ≈3% of orders; ASIA suppliers ≈20% of supplier): hints gated on
      // the bounding tables' footprints (orders/8 keeps ~4x margin over
      // the slice; supplier taken whole) — past the cap the fact join
      // degrades to a shuffle instead of an unbounded driver build
      .join(boundedBroadcast(ordNation, t.bytesOf("orders") / 8),
        col("l_orderkey") === col("o_orderkey"))
      .join(boundedBroadcast(suppAsia, t.bytesOf("supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      // one row per nation (bounded at ANY scale): single-task final sort
      // instead of a global range exchange + sampling pass
      .coalesce(1)
      .sortWithinPartitions(col("revenue").desc, col("n_name"))
  }

  /** q5 for the storage-partitioned bench block (`spj:` table mode): the
    * SAME query, re-ordered so the fact join is scan ⋈ scan — on a
    * bucket(orderkey)-co-located layout both sides report
    * KeyGroupedPartitioning and the join runs as a ZERO-exchange
    * sort-merge; the customer/supplier/nation lookups broadcast AFTER it
    * onto the 1/7-filtered join output. (Spark's SPJ compatibility walk
    * only crosses Filter/Project, so the q5_join shape — broadcast
    * pre-join on the orders side — would forfeit the storage
    * partitioning; keeping both fact inputs bare is the planning
    * contract.) At 100 TB the q5_join orders-side broadcast is the
    * scaling hazard (build side grows with SF); storage partitioning
    * removes it structurally. Not an oracle (same values as q5_join);
    * timed by Bench's SPJ A/B. */
  private[graft] def q5SpjPlan(spark: SparkSession, dir: String)
      : DataFrame = {
    val t = Tables(spark, dir)
    val suppAsia = t.supplier
      .join(broadcast(t.nation
        .join(t.region.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t.lineitem
      .join(t.orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      // same semi-join reduction as q5Join: only ASIA customers can pass
      // the final c_nationkey = s_nationkey join, and the ~5×-smaller
      // broadcast build is the dominant per-execution cost locally
      .join(boundedBroadcast(t.customer
          .join(broadcast(t.nation
              .join(t.region.filter(col("r_name") === "ASIA"),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"), "leftsemi")
          .select(col("c_custkey"), col("c_nationkey")),
          t.bytesOf("customer")),
        col("o_custkey") === col("c_custkey"))
      .join(boundedBroadcast(suppAsia, t.bytesOf("supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .coalesce(1)
      .sortWithinPartitions(col("revenue").desc, col("n_name"))
  }

  /** q5 "co-located all the way down": customer is ALSO bucketed
    * (bucket(w, c_custkey) in the spj layout), so the custkey join runs
    * as a sort-merge with the FACT side shuffling toward customer's
    * stored layout (`spark.sql.sources.v2.bucketing.shuffle.enabled`) —
    * customer ships ZERO rows and, unlike q5SpjPlan, there is no
    * driver-side broadcast hash-table build of it at all (the measured
    * q5 bottleneck at sf10 pre-semi-reduction). Customer stays a BARE
    * projected scan: Spark's SPJ compatibility walk only crosses
    * Filter/Project, so the semi-join reduction would forfeit the
    * layout — the ASIA restriction lands in the suppAsia broadcast
    * instead (same final values). Not an oracle (same values as
    * q5_join); timed by Bench's SPJ block as `q5_cust`. */
  private[graft] def q5SpjCustPlan(spark: SparkSession, dir: String)
      : DataFrame = {
    val t = Tables(spark, dir)
    val suppAsia = t.supplier
      .join(broadcast(t.nation
        .join(t.region.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t.lineitem
      .join(t.orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey"))
          .hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .join(boundedBroadcast(suppAsia, t.bytesOf("supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .coalesce(1)
      .sortWithinPartitions(col("revenue").desc, col("n_name"))
  }

  /** q5 over the MIXED layout — lineitem bucketed, orders read RAW from
    * `rawDir` (the common 100 TB join: fact table bucketed at rest, the
    * daily delta / unbucketed side not). With
    * `spark.sql.sources.v2.bucketing.shuffle.enabled` the raw orders
    * side is the ONLY exchange (it shuffles toward lineitem's
    * bucket(w, l_orderkey) layout via the catalog bucket function);
    * lineitem ships zero rows and sorts nothing. With it off, the same
    * plan needs TWO exchanges (both sides re-shuffle) — Bench A/Bs the
    * two by toggling SPARK_GRAFT_SPJ_SHUFFLE. Values identical to
    * q5_join; plan shape pinned by SpjScanSpec's one-exchange case. */
  private[graft] def q5SpjMixedPlan(spark: SparkSession, spjDir: String,
      rawDir: String): DataFrame = {
    val t = Tables(spark, rawDir)
    val suppAsia = t.supplier
      .join(broadcast(t.nation
        .join(t.region.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    Tables(spark, spjDir).lineitem
      .join(t.orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
          .hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .join(boundedBroadcast(t.customer
          .join(broadcast(t.nation
              .join(t.region.filter(col("r_name") === "ASIA"),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"), "leftsemi")
          .select(col("c_custkey"), col("c_nationkey")),
          t.bytesOf("customer")),
        col("o_custkey") === col("c_custkey"))
      .join(boundedBroadcast(suppAsia, t.bytesOf("supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .coalesce(1)
      .sortWithinPartitions(col("revenue").desc, col("n_name"))
  }

  private val q5Sql =
    s"""SELECT n_name,
       |  ${oRevenue("l_extendedprice", "l_discount")} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H q6 shape: pure filtered scan aggregate — the predicate-pushdown
    * benchmark (reference benchmark/tpch/q06.benchmark). */
  private def q6Filter(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(lsum(sl2(col("l_extendedprice")) * sl4(col("l_discount")), 1e6)
        .as("revenue"))
  }

  private val q6Sql =
    s"""SELECT ${oLsum(s"${oSl2("l_extendedprice")} * ${oSl4("l_discount")}", "1000000.0")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.03 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  /** Left-semi join (EXISTS decorrelation, TPC-H q4/q21 shape). */
  private def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.lineitem.filter(col("l_quantity") >= 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  private val qSemiSql =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS, TPC-H q22 shape). */
  private def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val qAntiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-2 orders per customer (row_number over a
    * deterministic total order).
    *
    * The window shuffle is RANGE partitioning on the window key instead of
    * the default hash: range partitions are globally ordered by o_custkey
    * and the in-partition sort (custkey, totalprice DESC, orderkey) is
    * exactly rn order within each customer, so after the rn<=2 filter the
    * output already carries the presentation order (custkey, rn) — one
    * whole shuffle+sort stage less than window-then-ORDER BY, at any
    * scale. Row order is not load-bearing for correctness (the oracle
    * compare sorts rows); this is the plan a user would want. */
  private def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Stats-driven formulation choice (what a CBO does with the same
    // information): below the crossover the codegen'd window sort wins —
    // per-stage constants dominate and the range exchange is cheap; past
    // it the bounded-top-k AGGREGATION wins because nothing is globally
    // sorted and the exchange shrinks to |customers|·k rows (A/B at
    // r11: window/agg sf0.1 0.087/0.178 s, sf1 0.270/0.255, sf10
    // 1.401/0.768 — the window plan is the one that REGRESSES with scale,
    // 2.54× vs DuckDB at sf10, the agg holds ~1.4×). Crossover measured
    // at ≈ the sf1 input (11 MB of orders); threshold set past it so the
    // micro scales keep the sort plan. At cluster scale the size branch
    // always takes the aggregation — exactly the plan you want at 100 TB.
    val ordersBytes =
      t.orders.queryExecution.optimizedPlan.stats.sizeInBytes
    if (ordersBytes > (24L << 20)) return qWindowTopnAgg(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // 2× the configured shuffle width: unlike the tiny-group hash
    // aggregates (whose reduce side is a handful of rows), the window's
    // per-task cost is the O(rows log rows) in-partition sort — doubling
    // the partition count genuinely halves each task's sort at any scale.
    // (An aggregation formulation — slice(sort_array(collect_list)) per
    // customer — was A/B-measured and loses; the size-capped
    // BoundedTopKAgg above is the variant that wins past the crossover.)
    val n = 2 * spark.sessionState.conf.numShufflePartitions
    t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .repartitionByRange(n, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"), col("o_totalprice").desc,
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long").as("rn"))
  }

  /** Skew-safe top-k per group ([[Skew.topKPerGroup]]): o_orderpriority
    * has only 5 values, so the plain single-window plan sorts ~1/5 of the
    * table on ONE task — the pathological window shape at 100 TB. The
    * salted two-pass variant bounds every task's sort and provably returns
    * the identical rows (oracle is the plain window SQL). */
  private def qWindowTopkSkew(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Skew.topKPerGroup(
      t.orders.select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice")),
      groupCols = Seq("o_orderpriority"),
      order = Seq(col("o_totalprice").desc, col("o_orderkey")),
      k = 3, rankCol = "rk")
      // 5 groups × k rows: single-partition final sort, no range exchange
      .coalesce(1)
      .sortWithinPartitions(col("o_orderpriority"), col("rk"))
  }

  private val qWindowTopkSkewSql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, rk""".stripMargin

  private val qWindowRankSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** The same top-2-per-customer as q_window_rank, planned as a BOUNDED
    * aggregation instead of a window: [[graft.functions.BoundedTopKAgg]]
    * keeps a k-row buffer per customer (map-side partial combine), so the
    * exchange carries ≤ |customers|·k rows and NOTHING is globally sorted
    * — the window plan's range exchange + O(n log n) partition sort both
    * disappear. Sort key negates the price for DESC and keeps o_orderkey
    * ASC as tiebreak — row_number semantics exactly. Same oracle as the
    * window formulation (identical rows by construction). */
  private def qWindowTopnAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("o_custkey"))
      .agg(graft.functions.BoundedTopK.boundedTopK(2,
        struct(-col("o_totalprice"), col("o_orderkey")),
        struct(col("o_orderkey"), col("o_totalprice"))).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.o_orderkey"),
        col("col.o_totalprice"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Running-total window over events (frame-based analytic window).
    * Scaled-long inside the frame so both engines agree exactly. */
  private def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .filter(col("user_id") < 100)
      .withColumn("running_value",
        sum(sl2(col("value"))).over(w).cast("double") / 100.0)
      .select(col("event_id"), col("user_id"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val qWindowRunningSql =
    s"""SELECT event_id, user_id,
       |  CAST(CAST(SUM(${oSl2("value")}) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 100.0 AS running_value
       |FROM events WHERE user_id < 100
       |ORDER BY user_id, event_id""".stripMargin

  /** Distinct aggregation (TPC-H q16 shape). */
  private def qDistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  private val qDistinctAggSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
      |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP grouping sets over the region/nation hierarchy. */
  private def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        lsum(sl2(col("c_acctbal")), 100.0).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  private val qRollupSql =
    s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
       |  ${oLsum(oSl2("c_acctbal"), "100.0")} AS total_bal
       |FROM customer, nation, region
       |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |GROUP BY ROLLUP(r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Set operations: INTERSECT / EXCEPT between two order-year cohorts. */
  private def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def cohort(y: Int) = t.orders
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    val both = cohort(1996).intersect(cohort(1997))
      .withColumn("tag", lit("both"))
    val only96 = cohort(1996).except(cohort(1997))
      .withColumn("tag", lit("only_1996"))
    both.union(only96).orderBy(col("tag"), col("o_custkey"))
  }

  private val qSetOpsSql =
    """WITH c96 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996),
      |     c97 AS (SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997)
      |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97) t1
      |UNION ALL
      |SELECT o_custkey, 'only_1996' AS tag FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97) t2
      |ORDER BY tag, o_custkey""".stripMargin

  /** CASE + LIKE (TPC-H q12/q14 shape): priority buckets per order year. */
  private def qCaseLike(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("o_orderpriority").like("1-%") ||
          col("o_orderpriority").like("2-%"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").like("1-%") &&
          !col("o_orderpriority").like("2-%"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy(col("o_year"))
  }

  private val qCaseLikeSql =
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(SUM(CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT LIKE '1-%' AND o_orderpriority NOT LIKE '2-%' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders GROUP BY EXTRACT(year FROM o_orderdate)
      |ORDER BY o_year""".stripMargin

  /** Scalar subquery (TPC-H q17 shape): parts priced above the mean. */
  private def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val avgPrice = t.part.agg(avg(col("p_retailprice")).as("ap"))
    t.part
      .join(broadcast(avgPrice), col("p_retailprice") > col("ap"))
      .select(col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  private val qScalarSubquerySql =
    """SELECT p_partkey, p_retailprice FROM part
      |WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** Plain top-k (TakeOrderedAndProject — no full sort at scale). */
  private def qTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  private val qTopKSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** String scalar functions over part. */
  private def qStringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.part
      .filter(col("p_size") > 40)
      .select(
        col("p_partkey"),
        upper(col("p_type")).as("u_type"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("pfx"),
        concat_ws("|", col("p_brand"), col("p_type")).as("tagged"))
      .orderBy(col("p_partkey"))
  }

  private val qStringFuncsSql =
    """SELECT p_partkey, UPPER(p_type) AS u_type, LENGTH(p_name) AS name_len,
      |  SUBSTR(p_name, 1, 5) AS pfx, CONCAT_WS('|', p_brand, p_type) AS tagged
      |FROM part WHERE p_size > 40 ORDER BY p_partkey""".stripMargin

  /** Date/time bucketing over the events table (hourly rollup). */
  private def qDateTrunc(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // Bucket on the raw micros long (`unix_micros` is a zero-cost codegen
    // extraction of the timestamp's internal long; the DIV is one integer
    // op per row), aggregate on the 8-byte bucket, and only then convert
    // + render the ~3k group keys. The shuffle carries longs, not 19-byte
    // strings. Hour buckets divide evenly in UTC micros, so this is
    // exactly date_trunc('hour', ts).
    val usPerHour = 3600L * 1000000L
    t.events
      .groupBy(expr(s"unix_micros(ts) DIV ${usPerHour}L").as("hr_bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        lsum(sl2(col("value")), 100.0).as("total_value"))
      .select(
        date_format(timestamp_micros(col("hr_bucket") * usPerHour),
          "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"), col("n"), col("total_value"))
      // bounded output (calendar hours × event types — thousands of rows
      // at ANY data scale): single-task final sort instead of a global
      // range exchange; the hash agg above stays fully parallel.
      .coalesce(1)
      .sortWithinPartitions(col("hr"), col("event_type"))
  }

  private val qDateTruncSql =
    s"""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
       |  event_type, COUNT(*) AS n,
       |  ${oLsum(oSl2("value"), "100.0")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** TPC-H q13 shape: LEFT OUTER join + per-group count + count histogram. */
  private def qOuterHistogram(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // aggregate BELOW the outer join: counting orders per custkey first
    // shrinks the join's right side from |orders| rows to |ordering
    // customers| (map-side partials do most of it), so the outer join
    // moves counts, not raw orders — at sf1 the counted side broadcasts
    // outright, at any scale the shuffle carries 10× fewer, 2-col rows.
    // COUNT over a no-match row is 0, exactly coalesce(cnt, 0).
    val perCust = t.orders
      .filter(!col("o_orderpriority").like("4-%"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    t.customer.select(col("c_custkey"))
      // the q17 estimate-blindness: perCust is bounded by |ordering
      // custkeys| ≤ |customer| (two longs/row), but its plan-time size
      // estimate inherits orders', which at factor 100 sits right at the
      // bench's 64 MB broadcast threshold — the plan flip-flopped
      // between broadcast and SMJ across runs (the 1.4–2.7× band).
      // boundedBroadcast pins the broadcast from the real bound
      // (customer's footprint) and degrades to SMJ past the cap.
      .join(boundedBroadcast(perCust, t.bytesOf("customer")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val qOuterHistogramSql =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4-%'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H q19 shape: disjunction of conjunctive predicates across a join. */
  private def qDisjunctive(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      // part grows with SF: hint only while its footprint fits the cap
      .join(boundedBroadcast(t.part, t.bytesOf("part")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity") >= 1 &&
          col("l_quantity") <= 11 && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity") >= 10 &&
            col("l_quantity") <= 20 && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity") >= 20 &&
            col("l_quantity") <= 30 && col("p_size").between(1, 15)))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val qDisjunctiveSql =
    s"""SELECT ${oRevenue("l_extendedprice", "l_discount")} AS revenue,
       |  COUNT(*) AS n
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey AND (
       |  (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       |  OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       |  OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))""".stripMargin

  /** TPC-H q2 shape: min-per-group subquery (cheapest supplier per nation). */
  private def qMinPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val s = t.supplier.join(broadcast(t.nation),
      col("s_nationkey") === col("n_nationkey"))
    val minBal = s.groupBy(col("n_name").as("mn_name"))
      .agg(min(col("s_acctbal")).as("min_bal"))
    s.join(minBal, col("n_name") === col("mn_name") &&
      col("s_acctbal") === col("min_bal"))
      .select(col("n_name"), col("s_suppkey"), col("s_acctbal"))
      .orderBy(col("n_name"), col("s_suppkey"))
  }

  private val qMinPerGroupSql =
    """SELECT n_name, s_suppkey, s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_acctbal = (
      |  SELECT MIN(s2.s_acctbal) FROM supplier s2 JOIN nation n2
      |    ON s2.s_nationkey = n2.n_nationkey
      |  WHERE n2.n_name = nation.n_name)
      |ORDER BY n_name, s_suppkey""".stripMargin

  /** TPC-H q15 shape: top revenue supplier via a derived revenue view. */
  private def qRevenueView(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(revenue(col("l_extendedprice"), col("l_discount"))
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("mr"))
      .join(t.supplier, col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val qRevenueViewSql =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${oRevenue("l_extendedprice", "l_discount")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** CUBE with GROUPING() markers over a 3-table join. */
  private def qCube(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation.filter(col("n_nationkey") < 5),
        col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("o_orderpriority"))
      .agg(grouping(col("n_name")).cast("long").as("g_nation"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"),
        count(lit(1)).as("n"))
      .orderBy(col("g_nation"), col("g_prio"),
        col("n_name").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  private val qCubeSql =
    """SELECT n_name, o_orderpriority,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio, COUNT(*) AS n
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      |WHERE nt.n_nationkey < 5
      |GROUP BY CUBE(n_name, o_orderpriority)
      |ORDER BY g_nation, g_prio, n_name NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  /** explicit GROUPING SETS (not derivable from CUBE/ROLLUP: a chosen
    * subset of grouping combinations, here (status, priority) / (status)
    * / ()) — one Expand + one aggregation, the same plan shape Spark
    * gives CUBE, so the cost is rows × |sets| into a map-side partial
    * agg, never |sets| scans. */
  private def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pr,
        |  COUNT(*) AS n, SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS total_c
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin)
  }

  private val qGroupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pr,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS total_c
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), ())
      |ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  /** distinct-set aggregation to a sorted list (rendered as a string so
    * both engines hash identically). */
  private def qArrayAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation.filter(col("n_nationkey") < 5),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_nationkey"))
      .agg(concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
        .as("prios"),
        count(lit(1)).as("n"))
      .orderBy(col("n_nationkey"))
  }

  private val qArrayAggSql =
    """SELECT n_nationkey,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
      |  COUNT(*) AS n
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      |WHERE n_nationkey < 5
      |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin

  /** calendar-part extraction (ISO day-of-week aligned across engines). */
  private def qDateParts(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .groupBy(
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        (weekday(col("ts")) + 1).cast("long").as("dow"), // ISO 1=Mon
        dayofyear(col("ts")).cast("long").as("doy"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("m"), col("dow"), col("doy"))
  }

  private val qDatePartsSql =
    """SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
      |  CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
      |  CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
      |  CAST(EXTRACT(doy FROM ts) AS BIGINT) AS doy,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q_cube", qCube, Some(qCubeSql)),
    QueryDef("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    QueryDef("q_array_agg", qArrayAgg, Some(qArrayAggSql)),
    QueryDef("q_date_parts", qDateParts, Some(qDatePartsSql)),
    QueryDef("q13_outer_histogram", qOuterHistogram, Some(qOuterHistogramSql)),
    QueryDef("q19_disjunctive", qDisjunctive, Some(qDisjunctiveSql)),
    QueryDef("q2_min_per_group", qMinPerGroup, Some(qMinPerGroupSql)),
    QueryDef("q15_revenue_view", qRevenueView, Some(qRevenueViewSql)),
    QueryDef("q1_agg", q1Agg, Some(q1Sql)),
    QueryDef("q3_topk", q3TopK, Some(q3Sql)),
    QueryDef("q3_bounded", q3Bounded, Some(q3Sql)),
    QueryDef("q5_join", q5Join, Some(q5Sql)),
    QueryDef("q6_filter", q6Filter, Some(q6Sql)),
    QueryDef("q_semi_join", qSemiJoin, Some(qSemiSql)),
    QueryDef("q_anti_join", qAntiJoin, Some(qAntiSql)),
    QueryDef("q_window_rank", qWindowRank, Some(qWindowRankSql)),
    QueryDef("q_window_topn_agg", qWindowTopnAgg, Some(qWindowRankSql)),
    QueryDef("q_window_topk_skew", qWindowTopkSkew, Some(qWindowTopkSkewSql)),
    QueryDef("q_window_running", qWindowRunning, Some(qWindowRunningSql)),
    QueryDef("q_distinct_agg", qDistinctAgg, Some(qDistinctAggSql)),
    QueryDef("q_rollup", qRollup, Some(qRollupSql)),
    QueryDef("q_setops", qSetOps, Some(qSetOpsSql)),
    QueryDef("q_case_like", qCaseLike, Some(qCaseLikeSql)),
    QueryDef("q_scalar_subquery", qScalarSubquery, Some(qScalarSubquerySql)),
    QueryDef("q_topk", qTopK, Some(qTopKSql)),
    QueryDef("q_string_funcs", qStringFuncs, Some(qStringFuncsSql)),
    QueryDef("q_date_trunc", qDateTrunc, Some(qDateTruncSql)),
  )
}
