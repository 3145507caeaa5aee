"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s flowbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import analysis


def span(id, start, end, parent=0, kind="action", **kw):
    return dict(id=id, name=kw.pop("name", f"s{id}"), kind=kind, parent=parent, iter=0,
                start=float(start), end=float(end), **kw)


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(analysis.tail(list(range(10))))
        self.assertEqual(analysis.tail(list(range(11))), (9, 0))

    def test_ten_samples_beyond_and_highest(self):
        for n in (11, 12, 20, 37, 100, 250):
            xs = [float(i) for i in range(n)][::-1]
            p, v = analysis.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # the next whole percentile would leave fewer than ten beyond it
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)
        self.assertEqual(analysis.tail([float(i) for i in range(20)]), (50, 9.0))
        self.assertEqual(analysis.tail([float(i) for i in range(100)]), (90, 89.0))


class FlowSchedule(unittest.TestCase):
    """Hand-built DAG: load -> (left, right) -> join, and a `report` action
    that waits on the tag the join carries. Times in ms, flow starts at 0."""
    actions = [
        {"guid": "load", "inputs": [], "outputs": ["raw"], "tags": [], "deps": []},
        {"guid": "left", "inputs": ["raw"], "outputs": ["l"], "tags": [], "deps": []},
        {"guid": "right", "inputs": ["raw"], "outputs": ["r"], "tags": [], "deps": []},
        {"guid": "join", "inputs": ["l", "r"], "outputs": [], "tags": ["t"], "deps": []},
        {"guid": "report", "inputs": [], "outputs": ["x"], "tags": [], "deps": ["t"]},
    ]
    spans = {
        "load": span(1, 2, 10),     # ready 0, waits 2, busy 8
        "left": span(2, 11, 31),    # ready 10, waits 1, busy 20
        "right": span(3, 12, 17),   # ready 10, waits 2, busy 5
        "join": span(4, 35, 45),    # ready 31, waits 4, busy 10
        "report": span(5, 46, 50),  # ready 45 (tag edge), waits 1, busy 4
    }

    def test_ready_wait_critical_path(self):
        r = analysis.flow_schedule(self.actions, self.spans, 0.0)
        self.assertEqual(sorted(r["waits"]), [1.0, 1.0, 2.0, 2.0, 4.0])
        self.assertEqual(r["busy"], 47.0)
        # load 8 + left 20 + join 10 + report 4
        self.assertEqual(r["critical_path"], 42.0)
        self.assertEqual(r["actions"], 5)
        # scheduler overhead = wall - critical path
        self.assertEqual(50.0 - r["critical_path"], 8.0)

    def test_actions_that_never_ran_are_skipped(self):
        spans = {g: s for g, s in self.spans.items() if g != "report"}
        r = analysis.flow_schedule(self.actions, spans, 0.0)
        self.assertEqual(r["actions"], 4)
        self.assertEqual(r["critical_path"], 38.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        parent = span(1, 0, 10)
        kids = [span(2, 1, 3), span(3, 2, 5), span(4, 7, 8), span(5, 9, 12), span(6, 4, 4)]
        # covered: [1,5] + [7,8] + [9,10] = 6
        self.assertEqual(analysis.self_time(parent, kids), 4.0)

    def test_no_children(self):
        self.assertEqual(analysis.self_time(span(1, 3, 7.5), []), 4.5)

    def test_union_length(self):
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)


class JobAttribution(unittest.TestCase):
    def test_storage_and_action_jobs(self):
        trace = {"spans": [span(3, 0, 100, kind="storage", name="storage.snapshot"),
                           span(4, 100, 200, job_desc="graft: Action: a"),
                           span(5, 300, 400, job_desc="graft: Action: a")],
                 "jobs": [{"job": 1, "start": 50.0, "desc": "flowbench:span:3", "stages": [7]},
                          {"job": 2, "start": 350.0, "desc": "graft: Action: a", "stages": [8]}],
                 "stages": []}
        owner = analysis.attribute_jobs(trace)
        self.assertEqual(owner[1]["id"], 3)
        self.assertEqual(owner[2]["id"], 5)


class TraceFile(unittest.TestCase):
    def test_round_trip_through_json_parser(self):
        doc = {"stamp": {"seed": 7, "workload": "etl_flow"},
               "spans": [span(1, 0.5, 10.25, kind="iteration", name="iteration"),
                         span(2, 1.0, 2.0, parent=1, job_desc="graft: Action: ü \"q\"")],
               "flows": [{"span": 1, "iter": 0, "actions": FlowSchedule.actions}],
               "queries": []}
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "trace.json")
            analysis.write_trace(path, doc)
            with open(path) as f:
                self.assertEqual(json.load(f), doc)

    def test_rejects_non_finite_numbers(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(ValueError):
                analysis.write_trace(os.path.join(d, "t.json"), {"x": float("nan")})


if __name__ == "__main__":
    unittest.main()
