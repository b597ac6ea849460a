"""Seeded op sequences for the two workloads, with the DuckDB model that
gives each op its expected answer.

Every op is one SQL statement for `spark.sql`. The program sees only that
text and the testdata. For the write workloads the model replays the same
statements in DuckDB, in the same order, while the sequence is generated,
so each op's expected answer is fixed before the program runs. A run's op
count depends only on the workload, the seed and `--seconds`, never on how
fast the program is, so every commit ends a run in the same lake state.
"""
import random

import duckdb

from check import digest

# The tables the ten headline queries read. documents and embeddings stay
# out of the lake: no query reads them, and loading them costs set-up time.
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]

# Rounds per second of --seconds: a run's timed ops then take about
# --seconds on a 4-core host at the commit that added the benchmark.
ROUNDS_PER_S = {"lake_read": 0.1, "lake_dml": 0.07}

# Files per fact table at set-up: key-clustered, so stats pruning has
# ranges to skip.
READ_LAYOUT = {"lineitem": (8, "l_shipdate"), "orders": (4, "o_orderdate"),
               "events": (4, "ts")}
DML_LAYOUT = {"lineitem": (8, "l_orderkey"), "orders": (4, "o_orderkey")}

MERGE_BATCH = 100           # rows per MERGE, half matched and half new
NEW_KEY_BASE = 10_000_000   # o_orderkey of rows the workload inserts


def rounds(workload, seconds):
    return max(1, int(seconds * ROUNDS_PER_S[workload] + 0.5))


class Ops:
    """Numbers ops in the order they are made; warm-up ops come first."""

    def __init__(self):
        self.warmup, self.timed, self.next_id = [], [], 0

    def add(self, timed, kind, sql, tables, write=False, expect=None,
            changes=None):
        op = {"id": self.next_id, "kind": kind, "sql": sql,
              "tables": tables, "write": write,
              "digest": expect is not None, "changes": "",
              "expect": expect, "expect_changes": changes}
        if changes is not None:
            # a write that both inserts and deletes rows needs the change
            # feed; otherwise the row count says how many rows changed
            op["changes"] = "feed" if all(changes) else "count"
        self.next_id += 1
        (self.timed if timed else self.warmup).append(op)
        return op["id"]


def _ctas(data, table, layout):
    src = f"parquet.`{data}/{table}.parquet`"
    if table in layout:
        n, key = layout[table]
        return (f"CREATE TABLE graft.{table} AS SELECT "
                f"/*+ REPARTITION_BY_RANGE({n}, {key}) */ * FROM {src}")
    return f"CREATE TABLE graft.{table} AS SELECT * FROM {src}"


def query_digest(con, sql):
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


# ---------------------------------------------------------------- lake_read
# The ten headline queries (graft.Bench.headline) as Spark SQL over the
# lake. Each is the registered oracle SQL with the DuckDB-only functions
# spelled in Spark's dialect; the oracle SQL itself, run by DuckDB on the
# raw testdata, gives the expected answer.
_REV = ("CAST(CAST(SUM(CAST(FLOOR((l_extendedprice)*100 + 0.5) AS BIGINT) * "
        "(10000 - CAST(FLOOR((l_discount)*10000 + 0.5) AS BIGINT))) AS BIGINT)"
        " AS DOUBLE) / 1000000.0")
_SL2 = "CAST(FLOOR(({})*100 + 0.5) AS BIGINT)"
_SL4 = "CAST(FLOOR(({})*10000 + 0.5) AS BIGINT)"


def _lsum(x, inv):
    return f"CAST(CAST(SUM({x}) AS BIGINT) AS DOUBLE) / {inv}"


_P2, _D4, _T4 = (_SL2.format("l_extendedprice"), _SL4.format("l_discount"),
                 _SL4.format("l_tax"))
HEADLINE = {
    "q1_agg": (["lineitem"], f"""
SELECT l_returnflag, l_linestatus,
  {_lsum(_SL2.format('l_quantity'), '100.0')} AS sum_qty,
  {_lsum(_P2, '100.0')} AS sum_base_price,
  {_REV} AS sum_disc_price,
  (CAST(CAST(SUM({_P2}) AS BIGINT) AS DOUBLE) * 100000000.0
   + CAST(CAST(SUM({_P2} * ({_T4} - {_D4})) AS BIGINT) AS DOUBLE) * 10000.0
   - CAST(CAST(SUM({_P2} * {_D4} * {_T4}) AS BIGINT) AS DOUBLE))
   / 10000000000.0 AS sum_charge,
  {_lsum(_SL2.format('l_quantity'), '100.0')} / COUNT(*) AS avg_qty,
  {_lsum(_P2, '100.0')} / COUNT(*) AS avg_price,
  {_lsum(_D4, '10000.0')} / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM graft.lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""),
    "q3_topk": (["customer", "orders", "lineitem"], f"""
SELECT l_orderkey, DATE_FORMAT(o_orderdate, 'yyyy-MM-dd') AS odate,
  {_REV} AS revenue
FROM graft.customer, graft.orders, graft.lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, DATE_FORMAT(o_orderdate, 'yyyy-MM-dd')
ORDER BY revenue DESC, l_orderkey
LIMIT 10"""),
    "q5_join": (["customer", "orders", "lineitem", "supplier", "nation",
                 "region"], f"""
SELECT n_name, {_REV} AS revenue
FROM graft.customer, graft.orders, graft.lineitem, graft.supplier,
  graft.nation, graft.region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name"""),
    "q6_filter": (["lineitem"], f"""
SELECT CAST(CAST(SUM({_P2} * {_D4}) AS BIGINT) AS DOUBLE) / 1000000.0
  AS revenue
FROM graft.lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24"""),
    "q_window_rank": (["orders"], """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM graft.orders) t
WHERE rn <= 2
ORDER BY o_custkey, rn"""),
    "q_date_trunc": (["events"], f"""
SELECT DATE_FORMAT(DATE_TRUNC('HOUR', ts), 'yyyy-MM-dd HH:mm:ss') AS hr,
  event_type, COUNT(*) AS n,
  {_lsum(_SL2.format('value'), '100.0')} AS total_value
FROM graft.events GROUP BY 1, 2 ORDER BY hr, event_type"""),
    "q9_profit": (["lineitem", "part", "supplier", "nation", "orders"], f"""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
  {_REV} AS sum_profit
FROM graft.lineitem, graft.part, graft.supplier, graft.nation, graft.orders
WHERE l_partkey = p_partkey AND p_name LIKE '%a%'
  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC"""),
    "q18_large_orders": (["orders", "lineitem", "customer"], f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM graft.orders
JOIN (SELECT l_orderkey,
        {_lsum(_SL2.format('l_quantity'), '100.0')} AS sum_qty
      FROM graft.lineitem GROUP BY l_orderkey
      HAVING {_lsum(_SL2.format('l_quantity'), '100.0')} > 300.0) big
  ON o_orderkey = big.l_orderkey
JOIN graft.customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    "q21_waiting": (["lineitem", "supplier"], """
SELECT s_name, COUNT(*) AS numwait
FROM graft.lineitem l1 JOIN graft.supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_quantity >= 45
  AND NOT EXISTS (SELECT 1 FROM graft.lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20"""),
    "cb_gap_stats": (["events"], """
WITH g AS (
  SELECT user_id,
    (UNIX_MICROS(CAST(ts AS TIMESTAMP)) - UNIX_MICROS(CAST(LAG(ts, 1) OVER (
       PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)))
      DIV 1000000 AS gap_s
  FROM graft.events)
SELECT user_id, COUNT(*) AS n_gaps, CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
  MAX(gap_s) AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY user_id HAVING COUNT(*) >= 5
ORDER BY user_id"""),
}


def lake_read(data, seed, n_rounds):
    """Each round runs every headline query once, in a seeded order. The
    expected answers come after the run, from the oracle SQL the program
    registers for each query (see run.py)."""
    rng = random.Random(seed)
    ops = Ops()
    names = list(HEADLINE)
    for timed, order in [(False, names)] + [
            (True, rng.sample(names, len(names))) for _ in range(n_rounds)]:
        for q in order:
            tables, sql = HEADLINE[q]
            ops.add(timed, q, sql.strip(), tables, expect="oracle")
    return {"setup_sql": [_ctas(data, t, READ_LAYOUT) for t in TABLES],
            "tables": TABLES, "export": [], "oracle": names,
            "warmup": ops.warmup, "timed": ops.timed}


# ----------------------------------------------------------------- lake_dml
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class _Keys:
    """Live keys with O(1) uniform draw and removal."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def draw(self, rng):
        return self.keys[rng.randrange(len(self.keys))]

    def sample(self, rng, n):
        return [self.keys[i] for i in rng.sample(range(len(self.keys)), n)]

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i, last = self.pos.pop(k), self.keys.pop()
        if last != k:
            self.keys[i], self.pos[last] = last, i


def _order_row(rng, key):
    return (f"(CAST({key} AS BIGINT), CAST({rng.randrange(1, 15001)} AS BIGINT), "
            f"'{rng.choice('OFP')}', CAST('{rng.randrange(100000, 50000000) / 100:.2f}' "
            f"AS DOUBLE), TIMESTAMP '{rng.randrange(1995, 2002)}-"
            f"{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d} 00:00:00', "
            f"'{rng.choice(_PRIORITIES)}')")


_AT = ("SELECT COUNT(*) AS n, SUM(o_orderkey) AS sum_key, "
       "SUM(o_custkey) AS sum_cust, "
       "SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS sum_price, "
       "MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date "
       "FROM {t}")
_ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderdate, o_orderpriority")


def lake_dml(data, seed, n_rounds):
    """Rounds of five statements in a seeded order: point SELECT, small
    INSERT, point DELETE, one-row UPDATE and a 100-row MERGE. Keys are
    drawn uniformly from the keys live in the model at that point. Each
    round ends with a maintenance pass and a read of a snapshot that the
    pass keeps."""
    rng = random.Random(seed)
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{data}/{t}.parquet'")
    lines = dict(con.execute("SELECT l_orderkey, COUNT(*) FROM lineitem "
                             "GROUP BY 1 ORDER BY 1").fetchall())
    line_keys = _Keys(sorted(lines))
    order_keys = _Keys(k for (k,) in con.execute(
        "SELECT o_orderkey FROM orders ORDER BY 1").fetchall())
    next_key = [NEW_KEY_BASE]
    ops = Ops()

    def fresh():
        next_key[0] += 1
        return next_key[0]

    def point_select(timed):
        k = line_keys.draw(rng)
        sql = f"SELECT * FROM {{}}lineitem WHERE l_orderkey = {k}"
        ops.add(timed, "point_select", sql.format("graft."), ["lineitem"],
                expect=query_digest(con, sql.format("")))

    def insert(timed):
        rows = [_order_row(rng, fresh()) for _ in range(rng.randint(1, 10))]
        sql = f"INSERT INTO {{}}orders VALUES {', '.join(rows)}"
        con.execute(sql.format(""))
        for i in range(len(rows)):
            order_keys.add(next_key[0] - i)
        ops.add(timed, "insert", sql.format("graft."), ["orders"], write=True,
                changes=[len(rows), 0])

    def delete(timed):
        k = line_keys.draw(rng)
        sql = f"DELETE FROM {{}}lineitem WHERE l_orderkey = {k}"
        con.execute(sql.format(""))
        line_keys.remove(k)
        ops.add(timed, "delete", sql.format("graft."), ["lineitem"],
                write=True, changes=[0, lines[k]])

    def update(timed):
        k = order_keys.draw(rng)
        sql = (f"UPDATE {{}}orders SET o_orderstatus = 'U', o_totalprice = "
               f"CAST('{rng.randrange(100, 100000) / 100:.2f}' AS DOUBLE) "
               f"WHERE o_orderkey = {k}")
        con.execute(sql.format(""))
        ops.add(timed, "update", sql.format("graft."), ["orders"], write=True,
                changes=[1, 1])

    def merge(timed):
        matched = order_keys.sample(rng, MERGE_BATCH // 2)
        new = [fresh() for _ in range(MERGE_BATCH - len(matched))]
        values = ", ".join(_order_row(rng, k) for k in matched + new)
        src = f"(SELECT * FROM (VALUES {values}) AS s({_ORDER_COLS}))"
        sql = (f"MERGE INTO graft.orders t USING {src} s "
               "ON t.o_orderkey = s.o_orderkey "
               "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        # DuckDB 1.0 has no MERGE: the model deletes the matched rows and
        # inserts the whole batch, which leaves the same table
        con.execute(f"DELETE FROM orders WHERE o_orderkey IN "
                    f"({', '.join(map(str, matched))})")
        con.execute(f"INSERT INTO orders SELECT * FROM {src}")
        for k in new:
            order_keys.add(k)
        ops.add(timed, "merge", sql, ["orders"], write=True,
                changes=[MERGE_BATCH, len(matched)])

    def maintain(timed, first):
        # compaction of the small files inserts and merges leave in orders,
        # of the lineitem files point deletes touched (any deleted row
        # qualifies a file), expiry of every snapshot older than the round,
        # then removal of the files no snapshot needs
        for kind, sql in [
                ("maint_merge", "CALL graft.merge_adjacent_files('orders')"),
                ("maint_rewrite",
                 "CALL graft.rewrite_data_files('lineitem', 0.000001)"),
                ("maint_expire", "CALL graft.expire_snapshots("
                                 f"older_than_ms => {{mark:{first}}})"),
                ("maint_cleanup", "CALL graft.cleanup_old_files()")]:
            ops.add(timed, kind, sql, ["orders", "lineitem"])

    kinds = [point_select, insert, delete, update, merge]
    for timed in [False] + [True] * n_rounds:
        first = ops.next_id
        for f in rng.sample(kinds, len(kinds)):
            f(timed)
            if f is insert:
                # orders as the round's INSERT left it; the expiry at the
                # end of the round keeps that snapshot
                at_insert = (ops.next_id - 1,
                             query_digest(con, _AT.format(t="orders")))
        maintain(timed, first)
        ops.add(timed, "version_read", _AT.format(
            t=f"graft.orders VERSION AS OF {{snap:{at_insert[0]}}}"),
            ["orders"], expect=at_insert[1])
    return {"setup_sql": [_ctas(data, t, DML_LAYOUT)
                          for t in ("orders", "lineitem")],
            "tables": ["orders", "lineitem"],
            "export": ["orders", "lineitem"], "oracle": [],
            "warmup": ops.warmup, "timed": ops.timed, "model": con}


WORKLOADS = {"lake_read": lake_read, "lake_dml": lake_dml}
