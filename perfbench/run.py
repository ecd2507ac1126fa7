#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <ingest|curation> --seed N \\
        --seconds S --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
runs one workload in one JVM (Spark local[cpus], one client, closed
loop), checks the outputs, and prints as its LAST stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). The line before it is a {"detail": ..} record with the
diagnostics (unit count, tail percentile, host sentinel, drift). Exits
non-zero when an output check fails; exits non-zero without a result
when the build or the run cannot complete. Workloads, metrics and
predictions are described in perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "curation")
# share of each traced unit's wall time its top-level spans must cover
MIN_COVERAGE = 0.90
# The repository's own run settings (build.sbt javaOptions: -Xmx8g and
# the default collector, G1), plus an initial heap: a heap that grows
# during the run made unit latencies vary from run to run
# (perfbench/README.md, "Measured steadiness").
JVM_HEAP = ["-Xms3g", "-Xmx8g"]
JVM_TIMEOUT_S = 160

ROOT = Path(__file__).resolve().parent.parent


def declared(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def cpus():
    """local[N]: $SPARK_GRAFT_CPUS when set, never more than the host has."""
    have = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    return min(have, int(want)) if want.isdigit() and int(want) > 0 else have


def run_jvm(classes, args, work, log):
    cmd = [build.java(), *build.JVM_OPTS, *JVM_HEAP,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(classes), "perfbench.Harness", *args]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------- checks

def _norm(v):
    """Value representation as a hash comparison sees it: -0.0 and NaN
    are distinct tokens."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
    return v


def _rows(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()])


def check_curation(work):
    """Oracle rows against DuckDB on shard 0; repeatable rows against
    their own first result on the same shard."""
    import duckdb
    con = duckdb.connect()
    shard = work / "curation" / "shard_0"
    for t in ("documents", "embeddings", "customer"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{shard}/{t}.parquet'")
    out = work / "out"
    problems, notes = [], []
    oracle = json.loads((out / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        got_cols, got = _rows(con, f"SELECT * FROM '{out}/first/{name}/*.parquet'")
        exp_cols, exp = _rows(con, sql)
        if got_cols != exp_cols:
            problems.append(f"{name}: columns {got_cols} != {exp_cols}")
        elif got != exp:
            bad = next(i for i, (a, b) in enumerate(zip(got + [None], exp + [None])) if a != b)
            problems.append(f"{name}: {len(got)} vs {len(exp)} rows, first difference at row {bad}")
        else:
            notes.append(f"{name} = oracle ({len(got)} rows)")
    for d in sorted((out / "repeat").iterdir()):
        a = _rows(con, f"SELECT * FROM '{out}/first/{d.name}/*.parquet'")
        b = _rows(con, f"SELECT * FROM '{d}/*.parquet'")
        if (a[0], sorted(map(repr, a[1]))) != (b[0], sorted(map(repr, b[1]))):
            problems.append(f"{d.name}: second pass over shard 0 differs from the first")
        else:
            notes.append(f"{d.name} repeats ({len(a[1])} rows)")
    if len(oracle) != 4 or len(list((out / "repeat").iterdir())) != 2:
        problems.append(f"expected 4 oracle rows and 2 repeat rows, got {len(oracle)} "
                        f"and {len(list((out / 'repeat').iterdir()))}")
    return not problems, "; ".join(problems or notes)


# ---------------------------------------------------------------- main

def drift(units):
    """Median latency of the first vs the last quarter of measured units."""
    lat = [u["lat_s"] for u in units if u["ok"]]
    q = max(1, len(lat) // 4)
    return statistics.median(lat[:q]), statistics.median(lat[-q:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.ensure()
    except build.BuildFailure as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = build.build_dir() / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    log = work / "jvm.log"
    try:
        launch = time.time()
        code = run_jvm(classes, [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus()), "--work", str(work), "--out", str(result_file)],
            work, log)
        exited = time.time()
        if code != 0 or not result_file.is_file():
            sys.stderr.write(log.read_text()[-6000:])
            print(f"harness exited with {code}", file=sys.stderr)
            return 3
        result = json.loads(result_file.read_text())
        if a.workload == "curation":
            ok, detail = check_curation(work)
        else:
            ok, detail = bool(result["check_ok"]), result["check_detail"]

        measured = [u for u in result["units"] if u["phase"] == "measure"]
        e2e, info = metrics.end_to_end(a.workload, result, launch)
        first_q, last_q = drift(measured)
        info.update({
            "workload": a.workload, "seed": a.seed, "cpus": result["cpus"],
            "check": detail,
            "jvm_start_s": result["jvm_start_ms"] / 1000.0 - launch,
            "sentinel_s": result["sentinel_s"],
            "session_start_s": (result["session_ready_ms"] - result["jvm_start_ms"]) / 1000.0,
            "warmup_s": (result["first_unit_ms"] - result["inputs_ready_ms"]) / 1000.0,
            "after_loop_s": exited - result["loop_done_ms"] / 1000.0,
            "first_quarter_latency_s": first_q, "last_quarter_latency_s": last_q,
        })
        if a.trace:
            values = metrics.per_layer(result)
            info["span_coverage_min"] = values["trace.coverage"]
            if values["trace.coverage"] < MIN_COVERAGE:
                ok = False
                info["check"] += (f"; spans cover only {values['trace.coverage']:.2f} "
                                  f"of a unit (< {MIN_COVERAGE}): a layer is missing from the trace")
        else:
            info.update(e2e)
            values = e2e
        units = declared("per_layer" if a.trace else "end_to_end")
        out = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        print(json.dumps({"detail": info}))
        print(json.dumps({"correct": ok, "attempted": info["units"],
                          "failed": info["failed"], "metrics": out}))
        return 0 if ok else 1
    except subprocess.TimeoutExpired:
        print(f"harness did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
