"""Self-tests of the benchmark's instruments.

    python3 -m unittest discover -s perfbench -p 'test_*.py' -v

Run from the root of a checkout. The fingerprint and self-time tests need no
JVM. `WorkloadTraceTest` makes one traced run per workload (a few minutes
each) and checks that each workload moves the counters it was built for and
that the recorded spans nest.
"""
import json
import os
import subprocess
import sys
import unittest

import duckdb

import fp
import layers

HERE = os.path.dirname(os.path.abspath(__file__))


class FingerprintTest(unittest.TestCase):
    def test_column_order_row_order_and_numeric_type_do_not_matter(self):
        con = duckdb.connect()
        a = con.sql("SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', NULL)) t(k, s, v)")
        b = con.sql("SELECT v, s, k FROM (VALUES (NULL, 'y', 2.0::DOUBLE), (2.5, 'x', 1.0)) t(v, s, k)")
        self.assertEqual(fp.fingerprint_relation(a), fp.fingerprint_relation(b))

    def test_a_changed_value_or_name_changes_the_fingerprint(self):
        con = duckdb.connect()
        base = fp.fingerprint_relation(con.sql("SELECT 1 AS k, 0.1 AS v"))
        self.assertNotEqual(base, fp.fingerprint_relation(con.sql("SELECT 1 AS k, 0.2 AS v")))
        self.assertNotEqual(base, fp.fingerprint_relation(con.sql("SELECT 1 AS j, 0.1 AS v")))
        self.assertEqual(base["rows"], 1)


class MembershipTest(unittest.TestCase):
    def test_every_member_is_in_its_category(self):
        import re
        with open("src/main/resources/graft/bench_baseline.json") as fh:
            base = json.load(fh)
        with open("src/main/scala/graft/Bench.scala") as fh:
            src = fh.read()
        block = re.sub(r"//[^\n]*", "", src[src.index("val layerBacked"):])
        layer_backed = set(re.findall(r'"([a-z0-9_]+)"', block[:block.index(")")]))
        self.assertIn("q_snapshot_sql_merge4", layer_backed)
        with open(os.path.join(HERE, "workloads.json")) as fh:
            spec = json.load(fh)["workloads"]
        for w in spec.values():
            for q, cat in w["members"].items():
                gate = q.startswith("q_stream_")
                batch = not gate and q not in layer_backed
                want = {"olap_read": batch and base[q] < 1.0,
                        "heavy_exec": batch and base[q] >= 1.0,
                        "stream_gates": gate,
                        "lakehouse_rw": q in layer_backed and q != "q_stream_ann"}[cat]
                self.assertTrue(want, f"{q} is not in {cat}")


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent(self):
        spans = {
            "p": {"id": "p", "parent": None, "start": 0, "end": 100},
            "a": {"id": "a", "parent": "p", "start": 10, "end": 30},
            "b": {"id": "b", "parent": "p", "start": 20, "end": 50},
            "c": {"id": "c", "parent": "p", "start": 90, "end": 120},
        }
        st = layers.self_times(spans)
        self.assertEqual(st["p"], 100 - 40 - 10)
        self.assertEqual(st["a"], 20)


def check_nesting(test, records):
    """Every child lies inside its parent, and where siblings do not overlap
    the parent's self time plus its children's durations is its duration."""
    spans = layers.all_spans(records)
    selfs = layers.self_times(spans)
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    slack = 5000  # us: listener timestamps have millisecond resolution
    checked = 0
    for sid, s in spans.items():
        cs = sorted(kids.get(sid, []), key=lambda c: c["start"])
        for c in cs:
            if c["kind"] == "batch":  # a trigger timestamp is rounded to the millisecond
                continue
            test.assertGreaterEqual(c["start"], s["start"] - slack, (s["name"], c["name"]))
            test.assertLessEqual(c["end"], s["end"] + slack, (s["name"], c["name"]))
        if cs and all(a["end"] <= b["start"] for a, b in zip(cs, cs[1:])):
            total = selfs[sid] + sum(min(c["end"], s["end"]) - max(c["start"], s["start"]) for c in cs)
            test.assertAlmostEqual(total, s["end"] - s["start"], delta=slack, msg=s["name"])
            checked += 1
    test.assertGreater(checked, 0)


class WorkloadTraceTest(unittest.TestCase):
    def test_each_workload_moves_its_counters_and_spans_nest(self):
        with open(os.path.join(HERE, "workloads.json")) as fh:
            spec = json.load(fh)["workloads"]
        for name, w in sorted(spec.items()):
            with self.subTest(workload=name):
                proc = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                     "--seed", "1", "--seconds", "1", "--trace", "1"],
                    capture_output=True, text=True, timeout=600)
                self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                self.assertTrue(result["correct"], proc.stdout[-3000:])
                for metric in w["moves"]:
                    self.assertGreater(result["metrics"][metric]["value"], 0, metric)
                with open(os.path.join(".bench_build", "runs", f"{name}-traced",
                                       "records.jsonl")) as fh:
                    check_nesting(self, [json.loads(line) for line in fh])


if __name__ == "__main__":
    unittest.main()
