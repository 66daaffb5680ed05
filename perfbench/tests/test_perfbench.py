"""Tests of the benchmark's own checks and output contract.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import trace  # noqa: E402


def _write_dir(path, **cols):
    """A Spark-style output directory holding one parquet part."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))


class MergeCheckTest(unittest.TestCase):
    """A two-table merge: parent p (move, uuid) and child c (fk -> p).
    dest holds p ids 1..3 and c ids 1..2; src adds p ids 4, 5 and c id 3."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.dest = os.path.join(root, "dest")
        self.out = os.path.join(root, "out")
        _write_dir(os.path.join(self.dest, "p.parquet"), pid=[1, 2, 3], name=["a", "b", "c"],
                   uuid=["u1", "u2", "u3"])
        _write_dir(os.path.join(self.dest, "c.parquet"), cid=[1, 2], ref=["r1", "r2"], pid=[1, 3])
        self.cfg = {
            "source": {"path": os.path.join(root, "src"), "location": "B"},
            "destination": {"path": self.dest}, "output": self.out, "persist": True,
            "tables": [
                {"name": "p", "idCol": "pid", "mode": "move", "naturalKey": ["name"], "uuidCol": "uuid"},
                {"name": "c", "idCol": "cid", "mode": "move", "naturalKey": ["ref"], "fks": {"pid": "p"}},
            ]}
        self.p = {"pid": [1, 2, 3, 4, 5], "name": ["a", "b", "c", "d", "e"],
                  "uuid": ["u1", "u2", "u3", "u4", "u5"],
                  "instance": ["dest"] * 3 + ["src"] * 2}
        self.c = {"cid": [1, 2, 3], "ref": ["r1", "r2", "r3"], "pid": [1, 3, 5],
                  "instance": ["dest", "dest", "src"]}
        self.report = [{"table": "p", "would_insert": 2}, {"table": "c", "would_insert": 1}]

    def tearDown(self):
        self.tmp.cleanup()

    def publish(self):
        _write_dir(os.path.join(self.out, "p.parquet"), **self.p)
        _write_dir(os.path.join(self.out, "c.parquet"), **self.c)
        for t in ("p", "c"):
            _write_dir(os.path.join(self.out, f"{t}__idmap.parquet"), src_id=[1], dest_id=[1], is_new=[0])
        _write_dir(os.path.join(self.out, "p__uuid_report.parquet"), src_id=[1], final_uuid=["u4"])
        _write_dir(os.path.join(self.out, "_merge_sources.parquet"), location=["B"])
        return checks.merge_output(duckdb.connect(), self.cfg, self.out, self.report, self.report)

    def test_correct_output_passes(self):
        self.assertEqual(self.publish(), [])

    def test_shifted_new_id_fails(self):
        self.p["pid"][4] = 6
        self.c["pid"][2] = 6
        self.assertTrue(any("not contiguous" in e for e in self.publish()))

    def test_dropped_row_fails(self):
        for k in self.c:
            self.c[k] = self.c[k][:-1]
        self.assertTrue(any("would_insert" in e for e in self.publish()))

    def test_dangling_fk_fails(self):
        self.c["pid"][2] = 9
        self.assertTrue(any("do not resolve" in e for e in self.publish()))

    def test_duplicate_uuid_fails(self):
        self.p["uuid"][4] = "u1"
        self.assertTrue(any("duplicate or null uuid" in e for e in self.publish()))

    def test_missing_artifact_fails(self):
        self.cfg["tables"][1]["uuidCol"] = "ref"
        self.assertTrue(any("not published" in e for e in self.publish()))


class CatalogCheckTest(unittest.TestCase):
    exp = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25], "s": ["y", "x"]})

    def test_same_rows_in_any_order_pass(self):
        got = self.exp.iloc[::-1][["s", "v", "k"]]
        self.assertEqual(checks.same_result(got, self.exp), "")

    def test_dropped_row_fails(self):
        self.assertIn("rows", checks.same_result(self.exp.iloc[:1], self.exp))

    def test_rows_tied_but_for_a_timestamp_pass_in_any_order(self):
        ts = pd.to_datetime(["2024-01-02", "2024-01-01", "2024-01-03"])
        exp = pd.DataFrame({"k": [1, 1, 1], "t": ts, "v": [1.0, 1.0, 1.0]})
        got = exp.iloc[[2, 0, 1]]
        self.assertEqual(checks.same_result(got, exp), "")

    def test_changed_value_fails(self):
        got = self.exp.copy()
        got.loc[0, "v"] = 0.5000001
        self.assertIn("column v", checks.same_result(got, self.exp))


def read_result_line(stdout: str) -> dict:
    """Parse the last stdout line the way a line-oriented reader does: a
    line that does not start with '{' (e.g. behind a logger's '[info] '
    prefix) is no result."""
    last = stdout.rstrip("\n").split("\n")[-1]
    if not last.startswith("{"):
        raise ValueError(f"result line does not start at column 0: {last[:40]!r}")
    return json.loads(last)


class ResultLineTest(unittest.TestCase):
    def test_line_starts_at_column_zero_and_parses(self):
        line = run.result_line(True, 3, 0, {"cycle_s": (1.25, "s")})
        got = read_result_line("detail\n" + line + "\n")
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(got["metrics"]["cycle_s"], {"value": 1.25, "unit": "s"})

    def test_prefixed_line_is_rejected(self):
        line = run.result_line(True, 3, 0, {"cycle_s": (1.25, "s")})
        with self.assertRaises(ValueError):
            read_result_line("[info] " + line + "\n")


class HarnessTimeoutTest(unittest.TestCase):
    def test_grows_with_the_window_and_the_cycles(self):
        base = run.harness_timeout(10, 1, 30)
        self.assertGreater(run.harness_timeout(120, 1, 30), base + 110)
        self.assertGreater(run.harness_timeout(10, 2, 30), base + 30)


class TraceTest(unittest.TestCase):
    def test_busy_time_is_the_union_of_intervals(self):
        self.assertAlmostEqual(trace._busy([(0, 1000), (500, 1500), (3000, 3500)]), 2.0)

    def test_missing_anchor_fails_loudly(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "X.scala"), "w") as f:
                f.write("a\nb\n")
            with self.assertRaises(ValueError):
                trace.line_rules(d, {"m": {"file": "X.scala", "text": "zzz", "lines": 1}})
            self.assertEqual(trace.line_rules(d, {"m": {"file": "X.scala", "text": "b", "lines": 2}}),
                             {"m": r"\(X\.scala:(?:2|3)\)"})


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                gen.merge_instances(d, seed, 0.0005)
                h = hashlib.sha256()
                for r, _, fs in sorted(os.walk(d)):
                    for f in sorted(fs):
                        if f.endswith(".parquet"):
                            with open(os.path.join(r, f), "rb") as fh:
                                h.update(fh.read())
                return h.hexdigest()
        self.assertEqual(digest(3), digest(3))
        self.assertNotEqual(digest(3), digest(4))


if __name__ == "__main__":
    unittest.main()
