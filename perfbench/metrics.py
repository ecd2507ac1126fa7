"""Pure arithmetic behind the benchmark's metrics (no I/O), so that the
self-tests in selftest.py can pin it.

A failed unit never delivered its result: it counts as +inf latency,
i.e. it misses every latency limit. A latency statistic that lands on
a failed unit reports the measured window's length instead, the
shortest time the result is known to have taken longer than.
"""
import math
import statistics

INF = math.inf

# Which generated tables each curation row reads (rows_per_s counts
# every input row a pass reads, once per row that reads it).
QUERY_TABLES = {
    "q_llm_prep_e2e": ["documents"],
    "q_llm_dedup_minhash_native": ["documents"],
    "q_llm_dedup_substr_rm": ["documents"],
    "q_llm_ann_pq_index": ["embeddings"],
    "q_llm_bpe_apply": ["documents"],
    "q_entity_resolve": ["customer"],
}


def unit_input_rows(workload, sizes):
    """Input rows one unit processes, from the row counts of its inputs."""
    if workload == "ingest":
        return sizes["state_vectors"]
    if workload == "curation":
        return sum(sizes[t] for tables in QUERY_TABLES.values() for t in tables)
    raise ValueError(f"unknown workload {workload}")


def latencies(units):
    """Unit latencies with failed units as +inf."""
    return [u["lat_s"] if u["ok"] else INF for u in units]


def tail(values):
    """The highest percentile, at or above the median, with at least ten
    samples beyond it.

    Returns (value, percentile, samples_beyond). The r-th smallest of n
    samples has n - r beyond it, so the rule picks r = n - 10. Below 20
    samples that r lies under the median, which is no tail: the maximum
    is returned with 0 samples beyond, which the caller reports as such.
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("no samples")
    r = n - 10 if n >= 20 else n
    return v[r - 1], 100.0 * r / n, n - r


def finite(x, window_s):
    return window_s if math.isinf(x) else x


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else INF


def fail_ratio(units):
    return sum(1 for u in units if not u["ok"]) / len(units)


def end_to_end(workload, result, launch_s):
    """The end-to-end metrics of one untraced run."""
    units = [u for u in result["units"] if u["phase"] == "measure"]
    window = result["measured_s"]
    lat = latencies(units)
    p50 = finite(statistics.median(lat), window)
    tail_v, tail_pct, beyond = tail(lat)
    ok_rows = sum(unit_input_rows(workload, u["rows"]) for u in units if u["ok"])
    busy = sum(u["lat_s"] for u in units)
    written = sum(u["bytes_written"] for u in units)
    return {
        "setup_s": result["first_unit_ms"] / 1000.0 - launch_s,
        "latency_p50_s": p50,
        "latency_tail_s": finite(tail_v, window),
        "rows_per_s": ok_rows / busy,
        "heap_retained_mb": result["heap_retained_mb"],
        "write_bytes_per_row": written / ok_rows if ok_rows else INF,
    }, {
        "units": len(units),
        "failed": sum(1 for u in units if not u["ok"]),
        "fail_ratio": fail_ratio(units),
        "tail_percentile": tail_pct,
        "tail_samples_beyond": beyond,
        "rows_per_unit": ok_rows / max(1, len(units)),
    }


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. Returns {span id: seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inside = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                  for c in kids.get(s["id"], [])]
        covered = union_length([i for i in inside if i[1] > i[0]])
        out[s["id"]] = (s["end_ms"] - s["start_ms"] - covered) / 1000.0
    return out


def layer_of(span_name):
    return "harness" if span_name == "unit" else span_name.split(".")[0]


def coverage(spans):
    """Per unit: share of the unit span's wall time its direct child
    spans cover. A layer call left out of the trace shows as a gap."""
    out = {}
    for s in spans:
        if s["name"] != "unit":
            continue
        kids = [(c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == s["id"]]
        dur = s["end_ms"] - s["start_ms"]
        out[s["unit"]] = union_length(kids) / dur if dur > 0 else 0.0
    return out


def cycle_sums(units):
    """Summed latency of each cycle of units (a failed unit counts as
    +inf). A cycle is one round of the workload's unit mix, e.g. two
    plain ingest batches and one that also runs retention."""
    sums = {}
    for u, lat in zip(units, latencies(units)):
        sums[u["cycle"]] = sums.get(u["cycle"], 0.0) + lat
    return list(sums.values())


def tracing_overhead(traced, plain, cycle):
    """Per unit: the median traced cycle minus the median untraced
    cycle, over the cycle length. Whole cycles compare like with like."""
    return (statistics.median(cycle_sums(traced))
            - statistics.median(cycle_sums(plain))) / cycle


def _in(t, lo, hi):
    return lo <= t <= hi


def per_layer(result):
    """Per-layer metrics of a traced run: counts and times per traced
    unit (mean), levels at the end, each layer's self time, the tracing
    overhead and the span coverage of unit wall time."""
    units = [u for u in result["units"] if u["phase"] == "measure"]
    traced = [u for u in units if u["traced"]]
    plain = [u for u in units if not u["traced"]]
    if not traced or not plain:
        raise ValueError("a traced run needs traced and untraced units; raise --seconds")
    cpus = result["cpus"]
    spans = result["spans"]
    selfs = self_times(spans)
    n = len(traced)
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    for u in traced:
        lo, hi = u["start_ms"], u["post_ms"]
        mine = [s for s in spans if s["unit"] == u["i"]]
        builds = [(s["start_ms"], s["end_ms"]) for s in mine if s["name"] == "ops.build"]
        for s in mine:
            add("span." + s["name"], (s["end_ms"] - s["start_ms"]) / 1000.0)
            add("self." + layer_of(s["name"]), selfs[s["id"]])
        for t in result["jobs"]:
            if _in(t, lo, hi):
                add("exec.jobs", 1)
                if any(_in(t, a, b) for a, b in builds):
                    add("ops.build_jobs", 1)
        for fin, run, dur, shuf, spill, failed in result["tasks"]:
            if _in(fin, lo, hi):
                add("exec.tasks", 1)
                add("exec.task_busy_s", run / 1000.0)
                add("exec.sched_wait_s", max(0, dur - run) / 1000.0)
                add("exec.shuffle_write_mb", shuf / 1048576.0)
                add("exec.spill_mb", spill / 1048576.0)
                add("exec.task_failures", failed)
        for at, ana, opt, plan, fallback in result["executions"]:
            if _in(at, lo, hi):
                add("spark.analysis_s", ana / 1000.0)
                add("spark.optimization_s", opt / 1000.0)
                add("spark.planning_s", plan / 1000.0)
                add("functions.fallback_nodes", fallback)
        sync = u["sync"]
        add("spark.analysis_s", sync["analysis_ms"] / 1000.0)
        add("spark.codegen_compiles", sync["codegen_compiles"])
        add("spark.codegen_compile_s", sync["codegen_compiles"] * sync["codegen_mean_ms"] / 1000.0)
        add("exec.gc_s", sync["gc_ms"] / 1000.0)
        add("engine.listing_fallbacks", sync["listing_fallbacks"])
        add("util.tmp_bytes", sync["tmp_bytes"])
        for k in ("fs.list_ops", "fs.read_ops", "fs.write_ops"):
            add(k, sync[k])
        for k in ("engine.commit_bytes", "engine.commit_files"):
            add(k, u["levels"].get(k, 0.0))
        add("busy_capacity_s", u["lat_s"] * cpus)

    mean = lambda k: acc.get(k, 0.0) / n
    last = traced[-1]["levels"]
    cov = coverage([s for s in spans if s["unit"] in {u["i"] for u in traced}])
    out = {
        "ops.build_s": mean("span.ops.build"),
        "ops.build_jobs": mean("ops.build_jobs"),
        "spark.analysis_s": mean("spark.analysis_s"),
        "spark.optimization_s": mean("spark.optimization_s"),
        "spark.planning_s": mean("spark.planning_s"),
        "spark.codegen_compiles": mean("spark.codegen_compiles"),
        "spark.codegen_compile_s": mean("spark.codegen_compile_s"),
        "exec.drain_s": mean("span.exec.drain"),
        "exec.jobs": mean("exec.jobs"),
        "exec.tasks": mean("exec.tasks"),
        "exec.task_busy_s": mean("exec.task_busy_s"),
        "exec.sched_wait_s": mean("exec.sched_wait_s"),
        "exec.core_util": acc.get("exec.task_busy_s", 0.0) / acc["busy_capacity_s"],
        "exec.shuffle_write_mb": mean("exec.shuffle_write_mb"),
        "exec.spill_mb": mean("exec.spill_mb"),
        "exec.task_failures": mean("exec.task_failures"),
        "exec.gc_s": mean("exec.gc_s"),
        "functions.fallback_nodes": mean("functions.fallback_nodes"),
        "functions.registry_size": result["registry_size"],
        "streaming.refresh_s": mean("span.streaming.refresh"),
        "engine.read_s": mean("span.engine.read"),
        "engine.maint_s": mean("span.engine.maint"),
        "engine.commit_bytes": mean("engine.commit_bytes"),
        "engine.commit_files": mean("engine.commit_files"),
        "engine.table_bytes": last.get("engine.table_bytes", 0.0),
        "engine.dir_entries": last.get("engine.dir_entries", 0.0),
        "engine.listing_fallbacks": mean("engine.listing_fallbacks"),
        "fs.list_ops": mean("fs.list_ops"),
        "fs.read_ops": mean("fs.read_ops"),
        "fs.write_ops": mean("fs.write_ops"),
        "util.tmp_bytes": mean("util.tmp_bytes"),
    }
    for layer in ("harness", "ops", "exec", "streaming", "engine"):
        out[f"self.{layer}_s"] = mean("self." + layer)
    out["trace.overhead_s"] = tracing_overhead(traced, plain, result["cycle"])
    out["trace.coverage"] = min(cov.values()) if cov else 0.0
    return out
