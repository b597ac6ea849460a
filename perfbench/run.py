#!/usr/bin/env python3
"""Layered lake benchmark: spark.sql reads, and small DML with maintenance.

Usage (from the repository root):
  python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke

One run builds the program from source (once per source tree), generates
the workload's ops from the seed with the DuckDB model, builds a fresh lake
in a per-run directory, drives the ops through `spark.sql` in one JVM
(perfbench/jvm), checks every answer against DuckDB, and prints one JSON
line: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (plus a trace file under perfbench/traces/). `--smoke` runs every
workload for a handful of ops at sf0.001 and shows that the checker flags a
wrong expected answer. See perfbench/README.md.
"""
import argparse
import copy
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

import check
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM = HERE / "jvm"
WORK = HERE / ".work"
TRACES = HERE / "traces"
DATA = "/root/testdata/sf0.1"
SMOKE_DATA = "/root/testdata/sf0.001"
HEAP = "2g"
DEADLINE_S = 170           # a run must end within 180 s
BUILD_DEADLINE_S = 840     # the first run of a checkout builds

# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

PER_OP = ["sql.executions", "sql.analysis_ms", "sql.optimization_ms",
          "sql.planning_ms", "catalog.statements", "catalog.ms",
          "commit.snapshots", "commit.statements", "commit.ms",
          "scan.files_in_snapshot", "scan.files_read", "scan.bytes_read",
          "scan.rows_read", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.task_run_ms", "exec.task_cpu_ms", "exec.shuffle_bytes",
          "exec.idle_ms", "write.data_files", "write.delete_files",
          "write.bytes", "maint.files_in", "maint.files_out",
          "maint.bytes_rewritten", "maint.files_removed", "jvm.gc_ms"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build
def _sources():
    files = [ROOT / "build.sbt", JVM / "build.sbt"]
    for d in (ROOT / "project", JVM / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", JVM / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles and packages the program and the JVM driver with sbt, then
    records a class-data-sharing archive from a short training run; both
    once per source tree. Returns (classpath, archive)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main").is_dir():
        fail(f"no program sources under {ROOT} (build.sbt, src/main)", 2)
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = JVM / "target" / "perfbench-build.json"
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s["hash"] == h.hexdigest():
            return s["classpath"], s["archive"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.is_file() else ""))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=JVM, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    archive = str(JVM / "target" / "perfbench.jsa")
    train(classpath, archive)
    stamp.write_text(json.dumps({"hash": h.hexdigest(),
                                 "classpath": classpath, "archive": archive}))
    return classpath, archive


def train(classpath, archive):
    """Runs the lake_read set-up and warm-up at sf0.001 in one JVM that
    writes the classes it loaded to a class-data-sharing archive. Runs that
    map the archive start their JVM and Spark session seconds sooner; it
    holds class metadata only, no data and no compiled code."""
    spec = workloads.lake_read(SMOKE_DATA, 0, 1)
    spec.update(tables=[], oracle=[], trace=False, timed=[],
                nproc=len(os.sched_getaffinity(0)))
    work = WORK / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run_jvm(classpath, None, spec, work, time.monotonic() + DEADLINE_S,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


# -------------------------------------------------------------------- run
def run_jvm(classpath, archive, spec, work, deadline, extra=()):
    spec_path, result_path = work / "spec.json", work / "result.json"
    jvm_spec = {k: v for k, v in spec.items() if k != "model"}
    strip = ("expect", "expect_changes")
    for part in ("warmup", "timed"):
        jvm_spec[part] = [{k: v for k, v in op.items() if k not in strip}
                          for op in spec[part]]
    spec_path.write_text(json.dumps(jvm_spec))
    (work / "tmp").mkdir()
    share = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *share, *extra,
           f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", classpath, "perfbench.LakeBench", str(spec_path),
           str(result_path)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"JVM run ended with {code}:\n{tail}")
    return json.loads(result_path.read_text())


def expected_oracle(data, oracle):
    """Each query's registered oracle SQL, run by DuckDB over the raw
    testdata with one thread per core: its answer's digest, and its time
    as a reference row (the first run of the query in this process)."""
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in workloads.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want, ms = {}, {}
    for q, sql in oracle.items():
        t0 = time.perf_counter()
        want[q] = workloads.query_digest(con, sql)
        ms[q] = (time.perf_counter() - t0) * 1000
    return want, ms


def duckdb_bytes(con, tables, work, data):
    """Bytes DuckDB writes for the live rows: one snappy Parquet file per
    table."""
    total = 0
    for t in tables:
        src = t if data is None else f"'{data}/{t}.parquet'"
        out = work / f"duck_{t}.parquet"
        con.execute(f"COPY (SELECT * FROM {src}) TO '{out}' "
                    "(FORMAT PARQUET, COMPRESSION SNAPPY)")
        total += out.stat().st_size
    return total


def judge(spec, res, data):
    """Checks every op and the end-of-run properties. Returns (failures
    per op id, list of end-of-run faults)."""
    ops = spec["warmup"] + spec["timed"]
    if spec["oracle"]:
        want, res["duckdb_ms"] = expected_oracle(data, res["oracle"])
        for op in ops:
            if op["expect"] == "oracle":
                op["expect"] = want[op["kind"]]
    got = {r["id"]: r for r in res["ops"]}
    timed = {op["id"] for op in spec["timed"]}
    per_op = {}
    for op in ops:
        if op["id"] not in timed:
            op = dict(op, changes="")   # warm-up writes are not read back
        why = check.op_failures(op, got[op["id"]],
                                res["changes"].get(str(op["id"])))
        if why:
            per_op[op["id"]] = why
    faults = []
    if res["missing_files"]:
        faults.append(f"snapshot references missing files "
                      f"{res['missing_files'][:5]}")
    if res["orphans"]:
        faults.append(f"orphaned files after the run {res['orphans'][:5]}")
    con = spec.get("model")
    for t, n in res["reattach_counts"].items():
        want = (con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] if con
                else duckdb.execute(
                    f"SELECT COUNT(*) FROM '{data}/{t}.parquet'").fetchone()[0])
        if n != want:
            faults.append(f"re-attached {t} has {n} rows, model {want}")
    for t, path in res["exported"].items():
        diff = check.table_differences(con, path, t)
        if diff:
            faults.append(f"re-attached {t} differs from the model "
                          f"in {diff} rows")
    return per_op, faults


def run(workload, seed, seconds, trace, data, n_rounds=None):
    t_start = time.monotonic()
    classpath, archive = build()
    deadline = time.monotonic() + DEADLINE_S - min(
        30.0, time.monotonic() - t_start)
    n = n_rounds or workloads.rounds(workload, seconds)
    spec = workloads.WORKLOADS[workload](data, seed, n)
    spec.update(trace=bool(trace), nproc=len(os.sched_getaffinity(0)))
    work = WORK / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        res = run_jvm(classpath, archive, spec, work, deadline)
        t1 = time.monotonic()
        per_op, faults = judge(spec, res, data)
        con = spec.get("model") or duckdb.connect()
        duck = duckdb_bytes(con, spec["tables"], work,
                            None if spec.get("model") else data)
        res.update(jvm_wall_s=t1 - t0, check_s=time.monotonic() - t1,
                   total_s=time.monotonic() - t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spec, res, per_op, faults, duck


def end_to_end(res, duck):
    lat = [r["ms"] for r in res["ops"] if r["phase"] == "timed"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(lat) / res["window_s"], "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "space_amp": ((res["data_bytes"] + res["catalog_bytes"]) / duck,
                      "ratio"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def per_layer(spec, res):
    """Each per-op counter as its mean per timed op, ratios as ratios of
    sums, storage as the run left it."""
    rows = res["layers"]
    total = {k: sum(r[k] for r in rows) for k in rows[0]
             if k not in ("id", "kind")}
    expect = {op["id"]: op for op in spec["timed"]}

    def matched(r):
        op = expect[r["id"]]
        if op["changes"]:
            return max(op["expect_changes"])
        return r["rows_matched"] if op["digest"] else 0

    m = {k: (total[k] / len(rows), unit(k)) for k in PER_OP}
    m.update({f"storage.{k}": (res[k], unit(k)) for k in (
        "data_files", "delete_files", "data_bytes", "catalog_bytes",
        "snapshots")})
    m["scan.files_read_ratio"] = (
        total["scan.files_read"] / max(1.0, total["scan.files_in_snapshot"]),
        "ratio")
    m["scan.rows_read_per_row_matched"] = (
        total["scan.rows_read"] / max(1, sum(matched(r) for r in rows)),
        "ratio")
    m["write.bytes_per_row"] = (
        total["write.bytes"] / max(1.0, total["write.rows"]), "bytes/row")
    m["jvm.heap_after_gc_mb"] = (res["heap_retained_mb"], "MB")
    return m


def detail(res):
    """Median latency per op type and per maintenance pass, the DuckDB
    reference times, and the run's environment."""
    timed = [r for r in res["ops"] if r["phase"] == "timed"]
    by_kind, passes = {}, []
    for r in timed:
        by_kind.setdefault(r["kind"], []).append(r["ms"])
        if r["kind"] == "maint_merge":
            passes.append(0.0)
        if r["kind"].startswith("maint"):
            passes[-1] += r["ms"]
    d = {f"{k}_p50_ms": statistics.median(v) for k, v in by_kind.items()}
    if passes:
        d["maintain_p50_ms"] = statistics.median(passes)
    if "duckdb_ms" in res:
        d["duckdb_reference_ms"] = res["duckdb_ms"]
    env = {k: res[k] for k in (
        "nproc", "heap_max_mb", "load_start", "load_end", "session_s",
        "build_s", "setup_statement_s", "warmup_s", "window_s", "post_s",
        "heap_trail_mb", "gc_window_ms", "jvm_wall_s", "check_s", "total_s")}
    return d, env


def unit(name):
    return ("ms" if name.endswith(("_ms", ".ms")) else
            "bytes" if "bytes" in name else "count")


def manifest_mismatch(m, section):
    """The metrics whose name or unit is not as BENCHMARK.json lists them
    in `section`."""
    want = {x["name"]: x["unit"] for x in
            json.loads((ROOT / "BENCHMARK.json").read_text())[section]}
    got = {k: u for k, (_, u) in m.items()}
    return sorted(f"{k}: {got.get(k)} != {want.get(k)}"
                  for k in want.keys() | got.keys()
                  if got.get(k) != want.get(k))


def write_trace(workload, seed, spec, res):
    """One JSON file per traced run: spans (op id, layer, start ms, end
    ms, parent span index) and per-op counters, with the median of each
    counter per op type."""
    TRACES.mkdir(exist_ok=True)
    by_kind = {}
    for r in res["layers"]:
        by_kind.setdefault(r["kind"], []).append(r)
    medians = {k: {c: statistics.median(r[c] for r in rs)
                   for c in rs[0] if c not in ("id", "kind")}
               for k, rs in by_kind.items()}
    path = TRACES / f"{workload}-seed{seed}.json"
    path.write_text(json.dumps({
        "workload": workload, "seed": seed,
        "span_fields": ["op", "layer", "start_ms", "end_ms", "parent"],
        "spans": res["spans"], "ops": res["layers"],
        "median_per_op_type": medians}, indent=1))
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA,
                    help="testdata directory (default %(default)s)")
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, a handful of ops, at sf0.001")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    spec, res, per_op, faults, duck = run(a.workload, a.seed, a.seconds,
                                          a.trace, a.data)
    for i, why in sorted(per_op.items()):
        print(f"perfbench: op {i} failed: {'; '.join(why)}", file=sys.stderr)
    for f in faults:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    timed_ids = {op["id"] for op in spec["timed"]}
    warm_failed = [i for i in per_op if i not in timed_ids]
    e2e = end_to_end(res, duck)
    m = per_layer(spec, res) if a.trace else e2e
    d, env = detail(res)
    if a.trace:
        # the end-to-end figures of a traced run give the tracing overhead
        d["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        print(json.dumps({"trace_file": str(write_trace(
            a.workload, a.seed, spec, res).relative_to(ROOT))}))
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "detail": d, "env": env}))
    off = manifest_mismatch(m, "per_layer" if a.trace else "end_to_end")
    if off:
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: {off}")
    print(json.dumps({
        "correct": not faults and not warm_failed,
        "attempted": len(spec["timed"]),
        "failed": len([i for i in per_op if i in timed_ids]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


def smoke():
    """Every workload at sf0.001 for one round, traced, with every check;
    then the checker must flag a deliberately wrong expected answer."""
    ok = True
    for w in sorted(workloads.WORKLOADS):
        t0 = time.monotonic()
        spec, res, per_op, faults, duck = run(w, 1, 1, 1, SMOKE_DATA,
                                              n_rounds=1)
        bad = dict(per_op)
        target = copy.deepcopy(next(op for op in spec["timed"]
                                    if op["digest"]))
        target["expect"] = "0" * 64
        got = {r["id"]: r for r in res["ops"]}
        caught = bool(check.op_failures(target, got[target["id"]], None))
        ok &= not bad and not faults and caught
        print(f"smoke {w}: {len(spec['warmup']) + len(spec['timed'])} ops, "
              f"{len(bad)} failed, {len(faults)} end-of-run faults, "
              f"wrong expected answer flagged: {caught}, "
              f"{time.monotonic() - t0:.1f} s")
        for i, why in sorted(bad.items()):
            print(f"  op {i}: {'; '.join(why)}")
        for f in faults:
            print(f"  {f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
