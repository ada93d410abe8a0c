"""Tests of the benchmark's own Python logic.

    python3 -m unittest discover -s perfbench/tests

The Scala side's logic (listener attribution, seeded inputs, oracles) is
checked by `python3 perfbench/run.py --selftest`.
"""

import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import benchlib  # noqa: E402


def span(i, start, end, parent=-1, name="s"):
    return {"id": i, "name": name, "startMs": start, "endMs": end,
            "parent": parent, "runId": "t"}


def call(op, role, phase, rnd, rows, sec, span_id=-1, ok=True, spark=None):
    return {"op": op, "role": role, "phase": phase, "round": rnd, "rows": rows,
            "sec": sec, "ok": ok, "span": span_id, "spark": spark or {}}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 100), span(2, 10, 30, 1), span(3, 20, 50, 1),
                 span(4, 70, 80, 1), span(5, 25, 28, 3)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 40 - 10)  # [10,50] and [70,80]
        self.assertAlmostEqual(st[3], 30 - 3)
        self.assertAlmostEqual(st[5], 3)

    def test_children_are_clipped_to_parent(self):
        st = benchlib.self_times([span(1, 10, 20), span(2, 5, 15, 1),
                                  span(3, 18, 40, 1)])
        self.assertAlmostEqual(st[1], 10 - 5 - 2)

    def test_leaf_is_its_duration(self):
        self.assertAlmostEqual(benchlib.self_times([span(7, 1.5, 4.0)])[7], 2.5)


class SummaryTest(unittest.TestCase):
    def record(self):
        calls = [
            call("j1_bcast", "join", "warm", 1, 100, 9.0),
            call("j1_bcast", "join", "measure", 2, 1_000_000, 0.5),
            call("k1_bcast", "knn", "measure", 2, 1_000_000, 2.0),
            call("j1_bcast", "join", "measure", 3, 1_000_000, 0.25),
            call("k1_bcast", "knn", "measure", 3, 1_000_000, 1.0, ok=False),
            call("j1_bcast", "join", "measure", 4, 1_000_000, 1.0),
            call("k1_bcast", "knn", "measure", 4, 1_000_000, 4.0),
            call("j1_bcast", "join", "traced", 5, 1_000_000, 0.6, span_id=1,
                 spark={"jobs": 2, "tasks": 8}),
            call("k1_bcast", "knn", "traced", 5, 1_000_000, 2.4, span_id=3,
                 spark={"jobs": 1, "tasks": 4}),
        ]
        spans = [span(1, 0, 600, 9, "engine.j1_bcast"),
                 span(2, 100, 500, 1, "stage.0"),
                 span(3, 600, 3000, 9, "engine.k1_bcast"),
                 span(9, 0, 3000, -1, "round")]
        return {"setup_s": [9.0, 2.0, 3.0], "attempted": 12, "failures": [],
                "calls": calls, "spans": spans, "layers": {},
                "store": {}, "jvm": {"heap_live_peak_mb": 10, "gc_s": 0.1}}

    def test_end_to_end(self):
        m = benchlib.end_to_end(self.record())
        self.assertEqual(m["setup_s"], 3.0)
        self.assertAlmostEqual(m["join_mrows_s"], 2.0)  # median of 2, 4, 1
        self.assertAlmostEqual(m["knn_mrows_s"], 0.375)  # failed call ignored
        self.assertAlmostEqual(m["round_s"], 2.5)  # rounds 2.5, 1.25, 5.0

    def test_per_layer_attribution(self):
        host = {"load1": 1.0, "steal_share": 0.0, "iowait_share": 0.0}
        m = benchlib.per_layer(self.record(), host)
        self.assertAlmostEqual(m["engine.j1_bcast.wall_s"], 0.6)
        self.assertAlmostEqual(m["engine.j1_bcast.driver_s"], 0.2)
        self.assertAlmostEqual(m["engine.k1_bcast.driver_s"], 2.4)
        self.assertEqual(m["spark.j1_bcast.jobs"], 2)
        self.assertEqual(m["spark.idx_append.jobs"], 0.0)
        self.assertAlmostEqual(m["trace.overhead_share"], (3.0 - 2.5) / 2.5)

    def test_result_carries_every_declared_metric(self):
        spec = benchlib.load_spec()
        rec = self.record()
        host = {"load1": 1.0, "steal_share": 0.0, "iowait_share": 0.0}
        rec["layers"] = {m["name"]: 1.0 for m in spec["per_layer"]
                         if m["name"].split(".")[0] in ("index", "functions")}
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = benchlib.result(rec, trace, host, spec)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(res["metrics"]), [m["name"] for m in spec[group]])
            for m in spec[group]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        rec["failures"] = ["j1_bcast result: 3 pairs, oracle 4"]
        res = benchlib.result(rec, 0, host, spec)
        self.assertEqual((res["correct"], res["failed"], res["attempted"]),
                         (False, 1, 12))


class HostTest(unittest.TestCase):
    def test_steal_and_iowait_shares(self):
        a = {"loadavg": [1.0, 1, 1], "cpu": [10, 0, 10, 70, 5, 0, 0, 5, 0, 0]}
        b = {"loadavg": [2.0, 1, 1], "cpu": [30, 0, 20, 130, 15, 0, 0, 25, 0, 0]}
        d = benchlib.host_delta(a, b)
        self.assertEqual((d["load1"], d["load1_start"]), (2.0, 1.0))
        self.assertAlmostEqual(d["iowait_share"], 10 / 120)
        self.assertAlmostEqual(d["steal_share"], 20 / 120)


if __name__ == "__main__":
    unittest.main()
