"""Self-tests of the benchmark harness; run with `python3 perfbench/run.py --selftest`.

The staging tests run the harness JVM once: it stages every workload's
inputs for seed 1 twice and for seed 2 once. File names carry a random job
id, so a staged tree is compared by (directory, content digest) pairs.
"""
import hashlib
import os
import shutil
import unittest

import run

# set by run.selftest(): the JVM launcher, the scratch root and core count
HARNESS = None
WORK = None
CORES = 1

SEEDS = (1, 1, 2)


def digest_tree(root):
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    out.append((os.path.relpath(d, root),
                                hashlib.sha256(fh.read()).hexdigest()))
    return sorted(out)


class Staging(unittest.TestCase):
    trees = {}

    @classmethod
    def setUpClass(cls):
        work = os.path.join(WORK, "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            HARNESS(["--mode", "stage", "--seeds", ",".join(map(str, SEEDS)),
                     "--workloads", ",".join(run.WORKLOADS),
                     "--cores", str(CORES), "--work", work], timeout=600)
            for w in run.WORKLOADS:
                for i in range(len(SEEDS)):
                    cls.trees[(w, i)] = digest_tree(os.path.join(work, "stage", w, str(i)))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            self.assertTrue(self.trees[(w, 0)], w)
            self.assertEqual(self.trees[(w, 0)], self.trees[(w, 1)], w)

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(self.trees[(w, 0)], self.trees[(w, 2)], w)


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(run.percentile(list(range(19)), 0.5))
        self.assertEqual(run.percentile(list(range(21)), 0.5), 10)
        # p90 at n = 91 sits on index 81: nine samples lie beyond it
        self.assertIsNone(run.percentile(list(range(91)), 0.9))
        self.assertIsNotNone(run.percentile(list(range(92)), 0.9))
        self.assertIsNone(run.percentile([], 0.5))

    def test_interpolates(self):
        self.assertAlmostEqual(run.percentile([float(x) for x in range(101)], 0.9), 90.0)
        self.assertAlmostEqual(run.percentile([float(x) for x in range(20)], 0.5), 9.5)


def fake_doc():
    """a minimal raw run document with two op classes"""
    ops, layers = [], {}
    for i in range(30):
        cls = "a" if i % 3 else "b"
        ops.append({"id": i, "cls": cls, "ms": 100.0 + i, "ok": True, "warm": i == 0,
                    "traced": i >= 15,
                    "rows_in": 10, "parts": {"lake.upsert": 50.0, "changes.pull": 20.0}})
        layers[str(i)] = {"exec.task_run_ms": 200.0, "exec.input_records": 500.0,
                          "result_rows": 5.0, "scan.files_read": 3.0,
                          "commitlog.live_files": 9.0, "lake.input_rows": 10.0,
                          "lake.rows_written": 40.0, "changes.rows": 8.0,
                          "dedup.docs": 10.0, "dedup.flagged": 1.0}
    facts = {"bytes_written": 1000.0, "staged_input_bytes": 100.0,
             "table_bytes": 300.0, "live_bytes": 200.0}
    return {"ops": ops, "layers": layers, "setup_s": [1.0, 2.0, 3.0],
            "timed_s": 5.0, "checks": [], "facts": facts}


class Ratios(unittest.TestCase):
    def test_ratio_comes_with_its_bases(self):
        m = run.ratio("write_amp", 3.0, 4.0)
        self.assertEqual(set(m), {"write_amp", "bytes_written", "staged_input_bytes"})
        self.assertEqual(m["write_amp"]["value"], 0.75)

    def test_every_emitted_ratio_has_its_bases(self):
        doc = fake_doc()
        emitted = [run.layers_of(doc["layers"], run.ok_ops(doc, traced=True), 4)]
        emitted += list(run.class_layers(doc, 4).values())
        for m in emitted:
            for name, (num, den) in run.RATIO_BASES.items():
                if name in m:
                    self.assertIn(num, m, name)
                    self.assertIn(den, m, name)
        # end-to-end ratios: their bases travel in the report's facts
        e2e = run.end_to_end(doc)
        report = run.class_report(doc)["_workload"]
        for name, (num, den) in run.RATIO_BASES.items():
            if name in e2e:
                self.assertIn(num, report, name)
                self.assertIn(den, report, name)


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [{"id": 0, "parent": -1, "name": "op", "start": 0.0, "end": 10.0},
                 {"id": 1, "parent": 0, "name": "c", "start": 1.0, "end": 4.0},
                 {"id": 2, "parent": 0, "name": "c", "start": 3.0, "end": 5.0}]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["op"]["self_ms"], 6.0)
        self.assertAlmostEqual(st["c"]["self_ms"], 5.0)
        self.assertEqual(st["c"]["count"], 2)
