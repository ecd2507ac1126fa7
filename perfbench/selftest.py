#!/usr/bin/env python3
"""Self-tests for the benchmark's own code: the tail-percentile rule,
span self-time and coverage arithmetic, failure accounting, the input
row counts behind rows_per_s, the per-layer event bucketing, and seed
hygiene (one seed regenerates byte-identical inputs; this one builds
and starts a JVM).

    python3 perfbench/selftest.py [-k pattern]
"""
import hashlib
import json
import math
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics as m  # noqa: E402


def unit(i, lat, ok=True, phase="measure", traced=False, **kw):
    return {"i": i, "lat_s": lat, "ok": ok, "phase": phase, "traced": traced,
            "rows": {"state_vectors": 100}, "bytes_written": 1000, **kw}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        v, pct, beyond = m.tail(list(range(1, 31)))
        self.assertEqual((v, beyond), (20, 10))
        self.assertAlmostEqual(pct, 200 / 3)

    def test_twenty_samples_is_the_median(self):
        v, pct, beyond = m.tail(list(range(1, 21)))
        self.assertEqual((v, pct, beyond), (10, 50.0, 10))

    def test_below_the_median_is_no_tail(self):
        # 12 samples: ten beyond would be the 2nd smallest
        self.assertEqual(m.tail([5.0] + [9.0] * 11), (9.0, 100.0, 0))

    def test_too_few_samples_reports_the_max(self):
        self.assertEqual(m.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))

    def test_order_does_not_matter(self):
        self.assertEqual(m.tail(list(range(40, 0, -1))), m.tail(list(range(1, 41))))


class SpanArithmetic(unittest.TestCase):
    spans = [
        {"id": 0, "name": "unit", "parent": -1, "unit": 7, "start_ms": 0, "end_ms": 100},
        {"id": 1, "name": "ops.build", "parent": 0, "unit": 7, "start_ms": 10, "end_ms": 40},
        {"id": 2, "name": "exec.drain", "parent": 0, "unit": 7, "start_ms": 30, "end_ms": 60},
        {"id": 3, "name": "exec.drain", "parent": 1, "unit": 7, "start_ms": 15, "end_ms": 20},
        # a child running past its parent only covers the parent's part
        {"id": 4, "name": "exec.drain", "parent": 2, "unit": 7, "start_ms": 55, "end_ms": 70},
    ]

    def test_self_time_subtracts_the_union_of_children(self):
        s = m.self_times(self.spans)
        self.assertAlmostEqual(s[0], 0.050)  # 100 - |[10, 60]|
        self.assertAlmostEqual(s[1], 0.025)  # 30 - 5
        self.assertAlmostEqual(s[2], 0.025)  # 30 - |[55, 60]|
        self.assertAlmostEqual(s[3], 0.005)
        self.assertAlmostEqual(s[4], 0.015)

    def test_union_length(self):
        self.assertEqual(m.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(m.union_length([]), 0)

    def test_coverage_is_the_share_top_level_spans_cover(self):
        self.assertAlmostEqual(m.coverage(self.spans)[7], 0.5)

    def test_layers(self):
        self.assertEqual([m.layer_of(s["name"]) for s in self.spans],
                         ["harness", "ops", "exec", "exec", "exec"])


class FailureAccounting(unittest.TestCase):
    def result(self, units):
        return {"units": units, "measured_s": 30.0, "first_unit_ms": 5000.0,
                "heap_retained_mb": 100.0}

    def test_failed_unit_misses_every_latency_limit(self):
        units = [unit(0, 1.0), unit(1, 2.0), unit(2, 3.0), unit(3, 0.5, ok=False)]
        e2e, info = m.end_to_end("ingest", self.result(units), 1.0)
        self.assertEqual(info["failed"], 1)
        self.assertEqual(info["fail_ratio"], 0.25)
        self.assertEqual(e2e["latency_p50_s"], 2.5)  # median of 1, 2, 3, inf
        self.assertEqual(e2e["latency_tail_s"], 30.0)  # the max is the failure
        self.assertEqual(e2e["setup_s"], 4.0)
        # the failure's rows were not processed; its time was spent
        self.assertAlmostEqual(e2e["rows_per_s"], 300 / 6.5)
        self.assertAlmostEqual(e2e["write_bytes_per_row"], 4000 / 300)

    def test_warmup_units_are_not_measured(self):
        units = [unit(0, 9.0, ok=False, phase="warmup"), unit(1, 1.0)]
        e2e, info = m.end_to_end("ingest", self.result(units), 1.0)
        self.assertEqual((info["units"], info["failed"]), (1, 0))
        self.assertEqual(e2e["latency_p50_s"], 1.0)

    def test_latencies(self):
        self.assertEqual(m.latencies([unit(0, 1.0), unit(1, 2.0, ok=False)]), [1.0, math.inf])


class InputRows(unittest.TestCase):
    def test_ingest_counts_state_vectors(self):
        self.assertEqual(m.unit_input_rows("ingest", {"state_vectors": 10000}), 10000)

    def test_curation_counts_each_table_per_row_that_reads_it(self):
        sizes = {"documents": 630, "embeddings": 420, "customer": 1545}
        # four document rows, one embedding row, one customer row
        self.assertEqual(m.unit_input_rows("curation", sizes), 4 * 630 + 420 + 1545)
        self.assertEqual(len(m.QUERY_TABLES), 6)

    def test_unknown_workload(self):
        with self.assertRaises(ValueError):
            m.unit_input_rows("dashboard", {})


class PerLayer(unittest.TestCase):
    def test_events_are_bucketed_by_unit_window(self):
        sync = {"analysis_ms": 4, "codegen_compiles": 2, "codegen_mean_ms": 50,
                "gc_ms": 10, "listing_fallbacks": 0, "tmp_bytes": 2048,
                "fs.list_ops": 3, "fs.read_ops": 5, "fs.write_ops": 7}
        result = {
            "cpus": 4, "registry_size": 500, "cycle": 1,
            "units": [unit(0, 2.0, cycle=0),
                      unit(1, 1.0, cycle=1, traced=True, start_ms=1000.0,
                           post_ms=2100.0, sync=sync, levels={})],
            "spans": [
                {"id": 0, "name": "unit", "parent": -1, "unit": 1, "start_ms": 1000, "end_ms": 2000},
                {"id": 1, "name": "ops.build", "parent": 0, "unit": 1, "start_ms": 1000, "end_ms": 1400},
                {"id": 2, "name": "exec.drain", "parent": 0, "unit": 1, "start_ms": 1400, "end_ms": 2000},
            ],
            # one job inside the build, one in the drain, one outside the unit
            "jobs": [1100, 1500, 2500],
            "tasks": [[1900, 800, 1000, 1048576, 0, 0], [2600, 5, 5, 0, 0, 0]],
            # a query started inside the unit, one before it
            "executions": [[1450, 1, 2, 3, 4], [900, 50, 50, 50, 50]],
        }
        v = m.per_layer(result)
        self.assertEqual((v["exec.jobs"], v["ops.build_jobs"], v["exec.tasks"]), (2, 1, 1))
        self.assertAlmostEqual(v["exec.task_busy_s"], 0.8)
        self.assertAlmostEqual(v["exec.sched_wait_s"], 0.2)
        self.assertAlmostEqual(v["exec.core_util"], 0.8 / 4)
        self.assertAlmostEqual(v["exec.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(v["spark.analysis_s"], 0.005)
        self.assertAlmostEqual(v["spark.codegen_compile_s"], 0.1)
        self.assertAlmostEqual(v["ops.build_s"], 0.4)
        self.assertAlmostEqual(v["trace.overhead_s"], -1.0)
        self.assertAlmostEqual(v["trace.coverage"], 1.0)
        self.assertEqual(v["functions.fallback_nodes"], 4)


class TracingOverhead(unittest.TestCase):
    def test_whole_cycles_compare_like_with_like(self):
        # cycles of three units, the last of each running retention
        # (+3 s); tracing adds 0.1 s to every unit
        plain = [unit(k, 1.0 + 3.0 * (k % 3 == 2), cycle=c)
                 for c in (0, 2) for k in range(3)]
        traced = [unit(k, 1.1 + 3.0 * (k % 3 == 2), cycle=1, traced=True)
                  for k in range(3)]
        self.assertAlmostEqual(m.tracing_overhead(traced, plain, 3), 0.1)

    def test_failed_unit_fails_its_cycle(self):
        traced = [unit(0, 1.0, cycle=1), unit(1, 1.0, ok=False, cycle=1)]
        self.assertEqual(m.cycle_sums(traced), [math.inf])


def input_digest(root):
    """Digest of every generated input under root. Text inputs and the
    data pages of parquet files count byte for byte. A parquet footer
    counts as its decoded content with each column chunk's encoding set
    sorted: parquet-mr lists that set in Java identity-hash order, which
    differs from one JVM to the next while the file says the same."""
    import pyarrow.parquet as pq
    h = hashlib.sha256()
    for f in sorted(p for p in Path(root).rglob("*") if p.suffix in (".parquet", ".jsonl")):
        h.update(str(f.relative_to(root)).encode())
        data = f.read_bytes()
        if f.suffix != ".parquet":
            h.update(data)
            continue
        footer = int.from_bytes(data[-8:-4], "little")
        h.update(data[:len(data) - 8 - footer])
        pf = pq.ParquetFile(f)
        meta = pf.metadata.to_dict()
        for rg in meta["row_groups"]:
            for c in rg["columns"]:
                c["encodings"] = sorted(c["encodings"])
        h.update(json.dumps([meta, sorted(pf.metadata.metadata.items()),
                             str(pf.schema_arrow)], sort_keys=True, default=str).encode())
    return h.hexdigest()


class SeedHygiene(unittest.TestCase):
    """One seed must regenerate identical inputs (see input_digest);
    another seed must not."""

    def generate(self, classes, seed, into):
        subprocess.run(
            [build.java(), *build.JVM_OPTS, "-Xmx1g", f"-Djava.io.tmpdir={into}",
             "-cp", build.classpath(classes), "perfbench.Harness", "--mode", "gen",
             "--seed", str(seed), "--cpus", "2", "--work", str(into)],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
        return input_digest(into)

    def test_same_seed_same_bytes(self):
        classes = build.ensure()
        dirs = [Path(tempfile.mkdtemp(prefix=f"gen{k}_", dir=build.build_dir()))
                for k in range(3)]
        try:
            a = self.generate(classes, 7, dirs[0])
            b = self.generate(classes, 7, dirs[1])
            c = self.generate(classes, 8, dirs[2])
            self.assertTrue(any(dirs[0].rglob("*.parquet")))
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
        finally:
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
