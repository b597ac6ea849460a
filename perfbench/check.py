"""Checks of the program's answers against the DuckDB side.

`digest` is the Python twin of the JVM's `perfbench.Digest`: the same
type-tagged encoding, column order and row order, so a Spark result and a
DuckDB result hash alike exactly when they hold the same rows.
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH = datetime.datetime(1970, 1, 1)


def _value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        bits = struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0 else v))[0]
        return f"D{bits:x}"
    if isinstance(v, decimal.Decimal):
        return "M0" if v == 0 else "M" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return f"T{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"A{(v - _EPOCH.date()).days}"
    return f"X{v}"


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    enc = sorted("\x01".join(_value(r[i]) for i in order).encode()
                 for r in rows)
    return hashlib.sha256(b"\n".join(enc)).hexdigest()


def op_failures(op, got, changes):
    """Why one op failed, or an empty list. `got` is the JVM's record of
    the op, `changes` its (inserted, deleted) rows from the change feed."""
    why = []
    if got["error"]:
        return [f"error: {got['error'][:300]}"]
    if op["digest"] and got["digest"] != op["expect"]:
        why.append(f"answer differs ({got['rows']} rows)")
    if op["changes"] and changes != op["expect_changes"]:
        why.append(f"changed rows {changes}, expected {op['expect_changes']}")
    # an acknowledged write that changes rows adds exactly one snapshot
    want = 1 if op["expect_changes"] and any(op["expect_changes"]) else 0
    if op["write"] and got["snap_after"] - got["snap_before"] != want:
        why.append(f"{got['snap_after'] - got['snap_before']} snapshots "
                   f"for one write, expected {want}")
    return why


def table_differences(con, exported, model_table):
    """Rows in one side and not the other, as a multiset, between a table
    the program exported and the model's table."""
    cols = con.execute(f"DESCRIBE {model_table}").fetchall()
    cast = ", ".join(f'CAST("{c[0]}" AS {c[1]}) AS "{c[0]}"' for c in cols)
    got = f"(SELECT {cast} FROM read_parquet('{exported}/*.parquet'))"
    n = 0
    for a, b in [(got, model_table), (model_table, got)]:
        n += con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM {a} "
                         f"EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
    return n
