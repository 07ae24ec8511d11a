#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use
(perfbench/build.sbt), runs the workload in one JVM with one closed-loop
client, checks every answer, and prints as its last line one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics. Exits nonzero on any wrong answer or error.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("repl_csv", "lakehouse")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark; returns the JVM classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources (build.sbt, src/main/scala) are not in this checkout")
    stamp = source_stamp()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = f.read().split("\n")
        if saved[0] == stamp:
            return saved[1]
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S}s; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if proc.returncode != 0 or not cp:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp[-1])
    return cp[-1]


def run_jvm(classpath, args, work):
    """Runs the workload JVM in its own process group and waits for it."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", classpath, "graft.perfbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), work, out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - STARTED))
        except subprocess.TimeoutExpired:
            code = "a timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"workload JVM exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def oracle_check(oracle):
    """Compares each olap entry's rows with its oracle SQL in DuckDB the way
    tools/check_oracle.py does: column names sorted, rows sorted, exact
    values."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import norm, values_equal
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['data']}/{t}.parquet/*.parquet')")
    wrong = []
    for name, result_dir, sql in oracle["entries"]:
        got = norm(con.execute(
            f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df())
        want = norm(con.execute(sql).df())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            wrong.append(f"olap {name}: shape {list(got.columns)} x {len(got)}, "
                         f"DuckDB {list(want.columns)} x {len(want)}")
            continue
        for c in got.columns:
            bad = [i for i, (a, b) in enumerate(zip(got[c], want[c]))
                   if not values_equal(a, b)]
            if bad:
                wrong.append(f"olap {name}: column {c} row {bad[0]}: "
                             f"{got[c][bad[0]]!r} != {want[c][bad[0]]!r}")
                break
    return wrong


def steal_seconds():
    """CPU time the host withheld from this machine so far (Linux
    /proc/stat steal), to tell a slow run on a contended host from a slow
    program."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def ops_of(phase, kind):
    return phase["ops"].get(kind, {"ms": [], "failed": 0})


def counts(phase):
    done = sum(len(o["ms"]) for o in phase["ops"].values())
    failed = sum(int(o["failed"]) for o in phase["ops"].values())
    return done + failed, failed, done


def end_to_end(res):
    """The metrics a user sees, from the untraced loop."""
    ph = res["untraced"]
    _, _, done = counts(ph)
    reads = ops_of(ph, "read")["ms"]
    p90, _ = stats.tail(reads, 0.9)
    return {
        "setup_s": stats.median(res["setup_s"]),
        "ops_per_s": done / ph["wall_s"],
        "read_p50_ms": stats.median(reads),
        "read_p90_ms": p90,
        "cpu_ms_per_op": ph["cpu_ms"] / done,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res):
    """Per-layer numbers from the traced loop, plus the workload-specific
    user-facing numbers (writes, refreshes, failures, space, recall) from
    the untraced loop of the same run. A layer the workload does not use
    reads 0."""
    L = dict(res["layer"], **res["extras"])
    ph, tr = res["untraced"], res["traced"]

    def get(k):
        return L.get(k, 0.0)

    def ratio(a, b):
        return a / b if b else 0.0

    def per_op(layer, counter):
        return ratio(get(f"{layer}.{counter}"), get(f"{layer}.ops"))

    m = {}
    reads_ops = get("core.ops") + get("olap.ops")
    m["core.parse_ms"] = per_op("core", "parse_ms")
    m["core.execute_ms"] = per_op("core", "execute_ms")
    m["spark.plan_ms"] = ratio(get("spark.plan_ms"), reads_ops)
    m["core.rows_scanned_per_row_returned"] = ratio(get("core.rows_scanned"),
                                                    get("core.rows_returned"))
    m["repl.render_ms"] = ratio(get("repl.render_ms"), get("core.ops"))
    m["repl.rows_rendered"] = ratio(get("repl.rows_rendered"), get("core.ops"))
    m["csv.load_s"] = get("csv.load_s")
    m["csv.jobs"] = get("csv.jobs")
    all_ops = sum(v for k, v in L.items() if k.startswith("op.") and k.endswith(".ops"))
    for c in ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
              "input_bytes", "spill_bytes", "driver_ms"):
        total = sum(v for k, v in L.items() if k.startswith("op.") and k.endswith("." + c))
        m[f"spark.{c}"] = ratio(total, all_ops)
    for kind in ("read", "write", "refresh"):
        for c in ("jobs", "exchanges", "driver_ms"):
            m[f"spark.{kind}.{c}"] = per_op(f"op.{kind}", c)
    m["snapshots.version_ms"] = ratio(get("snapshots.version_ms"), get("snapshots.asof.ops"))
    for c in ("jobs", "exchanges", "driver_ms"):
        m[f"snapshots.merge.{c}"] = per_op("snapshots.merge", c)
        m[f"views.refresh.{c}"] = per_op("views.refresh", c)
    m["snapshots.point.jobs"] = per_op("snapshots.point", "jobs")
    m["snapshots.point.files_ratio"] = ratio(get("snapshots.point.files"),
                                             get("snapshots.point.files_total"))
    m["snapshots.range.files_ratio"] = ratio(get("snapshots.range.files"),
                                             get("snapshots.range.files_total"))
    m["snapshots.compact_ms"] = ratio(get("snapshots.compact_ms"), get("snapshots.compact.ops"))
    m["snapshots.bytes_written_per_user_byte"] = ratio(
        get("snapshots.written_bytes"), get("snapshots.written_user_bytes"))
    m["views.feed_rows"] = ratio(get("views.feed_rows"), get("views.refresh.ops"))
    m["ann.build_s"] = get("ann.build_s")
    m["dedup.build_s"] = get("dedup.build_s")
    for layer in ("ann.probe", "dedup.probe", "ann.add", "dedup.add"):
        m[f"{layer}_ms"] = ratio(get(f"{layer}_ms"), get(f"{layer}.ops"))
    attempted, failed, done = counts(ph)
    m["jvm.gc_ms"] = ratio(ph["gc_ms"], done)
    m["trace.overhead_pct"] = 100.0 * (stats.median(ops_of(tr, "read")["ms"]) /
                                       stats.median(ops_of(ph, "read")["ms"]) - 1.0)
    writes = ops_of(ph, "write")["ms"]
    refreshes = ops_of(ph, "refresh")["ms"]
    m["write_p50_ms"] = stats.median(writes) if writes else 0.0
    m["write_p90_ms"] = stats.tail(writes, 0.9)[0] if writes else 0.0
    m["refresh_p50_ms"] = stats.median(refreshes) if refreshes else 0.0
    m["error_ratio"] = stats.failure_ratio(attempted, failed)
    m["bytes_stored_per_user_byte"] = get("bytes_stored_per_user_byte")
    m["recall_at_10"] = get("recall_at_10")
    m["dedup.planted_found_ratio"] = get("dedup.planted_found_ratio")
    m["read_samples"] = float(len(ops_of(ph, "read")["ms"]))
    m["write_samples"] = float(len(writes))
    return m


def main():
    global STARTED
    STARTED = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    classpath = build()
    STARTED = time.time()
    work = os.path.join(ROOT, ".perfbench-run", f"{os.getpid()}-{int(STARTED)}")
    os.makedirs(work)
    steal0 = steal_seconds()
    try:
        res = run_jvm(classpath, args, work)
        wrong = list(res["wrong"])
        if "oracle" in res:
            wrong += oracle_check(res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        # the spans of the traced loop, kept after the run directory goes
        spans = os.path.join(HERE, "target", f"spans-{args.workload}-{args.seed}.json")
        with open(spans, "w") as f:
            json.dump({"columns": ["name", "start_ns", "end_ns", "parent"],
                       "spans": res["spans"]}, f)
    attempted, failed, _ = counts(res["untraced"])
    values = per_layer(res) if args.trace else end_to_end(res)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    for name, v in metrics.items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            fail(f"metric {name} is not a finite number: {v['value']!r}")
    detail = {
        "workload": args.workload, "seed": args.seed,
        "samples": {k: len(o["ms"]) for k, o in res["untraced"]["ops"].items()},
        "ms": {k: sorted(round(x) for x in o["ms"]) for k, o in res["untraced"]["ops"].items()},
        "failed_ops": res["errors"][:5], "wrong": wrong[:5],
        "setup_s": res["setup_s"], "phases_s": res["phases_s"],
        "extras": res["extras"], "host_steal_s": round(steal_seconds() - steal0, 2),
    }
    print(json.dumps(detail))
    for w in wrong:
        print(f"perfbench: wrong answer: {w}", file=sys.stderr)
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if wrong else 0)


if __name__ == "__main__":
    main()
