"""Self-test of the benchmark's own code, at a tiny scale and without Spark.

    python3 perfbench/selftest.py

Checks that the input generators are deterministic and keep the jaffle
seed edge cases, that the event-log parser groups a small hand-written
log by span correctly, and that the metric names the benchmark prints
match ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


class Generators(unittest.TestCase):
    def test_jaffle_edge_cases_hold_for_many_seeds(self):
        for seed in range(20):
            inputs.check_jaffle_edge_cases(inputs.jaffle_tables(seed, 60))

    def test_jaffle_edge_case_check_rejects_missing_cases(self):
        t = inputs.jaffle_tables(0, 60)
        t["raw_payments"]["amount"] = np.where(
            t["raw_payments"]["amount"] == 0, 100, t["raw_payments"]["amount"]
        )
        with self.assertRaisesRegex(ValueError, "no zero amount"):
            inputs.check_jaffle_edge_cases(t)
        t = inputs.jaffle_tables(0, 60)
        # every customer places an order
        t["raw_orders"]["user_id"] = np.resize(t["raw_customers"]["id"], len(t["raw_orders"]["id"]))
        with self.assertRaisesRegex(ValueError, "no customer without orders"):
            inputs.check_jaffle_edge_cases(t)

    def test_jaffle_csvs_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            inputs.write_jaffle_seeds(a, 3, 40)
            inputs.write_jaffle_seeds(b, 3, 40)
            inputs.write_jaffle_seeds(c, 4, 40)
            for name in inputs.JAFFLE_TABLES:
                read = lambda p: open(os.path.join(p, f"{name}.csv")).read()  # noqa: E731
                self.assertEqual(read(a), read(b))
                self.assertTrue(read(a).startswith(",".join(inputs.jaffle_tables(3, 40)[name]) + "\n"))
            self.assertNotEqual(
                open(os.path.join(a, "raw_orders.csv")).read(),
                open(os.path.join(c, "raw_orders.csv")).read(),
            )

    def test_star_schema_types(self):
        t = inputs.star_tables(1, 0.001, 30, (10, 20))
        self.assertEqual(set(t), {
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        })
        self.assertEqual(t["orders"].schema.field("o_orderdate").type, pa.timestamp("us"))
        self.assertEqual(t["events"].schema.field("ts").type, pa.timestamp("us"))
        self.assertEqual(t["region"].schema.field("r_regionkey").type, pa.int32())
        self.assertEqual(t["embeddings"].schema.field("embedding").type, pa.list_(pa.float32()))
        self.assertEqual(t["documents"].num_rows, 30)
        docs = t["documents"].to_pydict()
        self.assertEqual(docs["n_chars"], [len(x) for x in docs["text"]])
        self.assertTrue(all(10 <= len(x.split()) <= 20 for x in docs["text"]))
        self.assertTrue(inputs.star_tables(1, 0.001, 30, (10, 20))["lineitem"].equals(t["lineitem"]))


def _event_log(events: list[dict]) -> str:
    fd, path = tempfile.mkstemp(suffix=".log")
    with os.fdopen(fd, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    return path


class EventLogParser(unittest.TestCase):
    def test_groups_jobs_stages_and_tasks_by_span(self):
        spans = [
            {"id": 0, "layer": "iteration", "name": "x", "parent": None, "start": 100.0, "end": 110.0},
            {"id": 1, "layer": "cli", "name": "run", "parent": 0, "start": 101.0, "end": 105.0},
            {"id": 2, "layer": "cli", "name": "test", "parent": 0, "start": 105.0, "end": 109.0},
        ]

        def task(stage, run_ms, cpu_ns, ok=True, shuffle=0, spill=0, peak=0):
            return {
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
                    "Disk Bytes Spilled": spill, "Peak Execution Memory": peak,
                },
            }

        def stage_done(stage, start, end):
            return {"Event": "SparkListenerStageCompleted",
                    "Stage Info": {"Stage ID": stage, "Submission Time": start * 1000,
                                   "Completion Time": end * 1000}}

        path = _event_log([
            {"Event": "SparkListenerApplicationStart"},
            # job 0 carries span 1's group; job 1 has no group and is
            # attributed by its submission time (inside span 2)
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101500,
             "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb1"}},
            stage_done(0, 101.5, 102.0), task(0, 400, 300_000_000, shuffle=1000, peak=64),
            stage_done(1, 102.0, 103.0), task(1, 900, 800_000_000, ok=False, spill=5),
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 106000,
             "Stage IDs": [2], "Properties": {}},
            stage_done(2, 106.0, 108.0), task(2, 1000, 1_000_000_000, peak=128),
            task(2, 1000, 500_000_000),
        ])
        try:
            own, ivs = tracing.parse_event_log(path, spans)
        finally:
            os.unlink(path)
        self.assertEqual(own[1]["jobs"], 1)
        self.assertEqual(own[1]["stages"], 2)
        self.assertEqual(own[1]["tasks"], 2)
        self.assertEqual(own[1]["failed_tasks"], 1)
        self.assertAlmostEqual(own[1]["executor_run_s"], 1.3)
        self.assertAlmostEqual(own[1]["executor_cpu_s"], 1.1)
        self.assertEqual(own[1]["shuffle_write_bytes"], 1000)
        self.assertEqual(own[1]["spill_bytes"], 5)
        self.assertEqual(own[2]["jobs"], 1)
        self.assertEqual(own[2]["tasks"], 2)
        run1 = tracing.subtree_exec(spans, own, ivs, 1, cores=4)
        self.assertAlmostEqual(run1["sched_gap_s"], 4.0 - 1.5)
        self.assertAlmostEqual(run1["core_util"], 1.3 / (4.0 * 4))
        whole = tracing.subtree_exec(spans, own, ivs, 0, cores=4)
        self.assertEqual(whole["jobs"], 2)
        self.assertEqual(whole["tasks"], 4)
        self.assertEqual(whole["peak_execution_memory_bytes"], 128)
        self.assertAlmostEqual(whole["sched_gap_s"], 10.0 - 3.5)
        self.assertAlmostEqual(whole["gc_s"], 0.04)

    def test_innermost_span(self):
        spans = [
            {"id": 0, "start": 0.0, "end": 10.0},
            {"id": 1, "start": 1.0, "end": 3.0},
            {"id": 2, "start": 4.0, "end": 6.0},
        ]
        self.assertEqual(tracing.innermost_span(spans, 2.0), 1)
        self.assertEqual(tracing.innermost_span(spans, 3.5), 0)
        self.assertIsNone(tracing.innermost_span(spans, 11.0))


class Metrics(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_end_to_end_names_match(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]],
            list(run.END_TO_END),
        )

    def test_per_layer_names_match(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
            list(layers.PER_LAYER),
        )

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_median_and_tail(self):
        m = run.median_and_tail([float(i) for i in range(1, 41)])
        self.assertEqual((m["median"], m["tail"], m["tail_pct"], m["n"]), (20.5, 30.0, 75.0, 40))
        m = run.median_and_tail([float(i) for i in range(1, 22)])
        self.assertEqual((m["tail"], m["tail_pct"]), (11.0, 100.0 * 11 / 21))
        # up to 20 samples no percentile with ten beyond it is above the median
        m = run.median_and_tail([float(i) for i in range(13, 0, -1)])
        self.assertEqual((m["median"], m["tail"], m["max"], m["n"]), (7.0, None, 13.0, 13))


if __name__ == "__main__":
    unittest.main()
