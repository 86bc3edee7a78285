"""The benchmark's own tests. From the root of a checkout:

    python3 -m unittest discover -s perfbench/tests

PERFBENCH_RUN=1 also runs the command itself, once per workload and trace
mode (several minutes; it builds the program first).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import fixture  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def tree_digest(top):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(top):
        dirs.sort()
        for n in sorted(files):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, top).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b, [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


class FixtureTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            fixture.generate(a, 7)
            fixture.generate(b, 7)
            fixture.generate(c, 8)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_every_month_a_call_reads_exists(self):
        """Round r runs after r arrivals and names days of the newest month
        (PerfBench.Api.params); the months its calls read must all be there."""
        import datetime as dt
        with tempfile.TemporaryDirectory() as d:
            m = fixture.generate(d, 3)
            with open(os.path.join(d, "rounds.tsv")) as f:
                rounds = [line.split("\t") for line in f.read().splitlines()]
            y, mo = int(m["month_dirs"][-1][:4]), int(m["month_dirs"][-1][4:])
            present = set(m["month_dirs"])
            for r, row in enumerate(rounds[:60]):
                if r > 0:  # an arrival
                    y, mo = (y + 1, 1) if mo == 12 else (y, mo + 1)
                    present.add(f"{y:04d}{mo:02d}")
                prev = dt.date(y, mo, 1) - dt.timedelta(days=1)
                avg = dt.date(y, mo, int(row[8]))
                need = oracle.months(avg - dt.timedelta(days=30), avg)
                need += oracle.months(prev.replace(day=int(row[6])),
                                      dt.date(y, mo, int(row[7])))
                need += oracle.months(dt.date(y, mo, int(row[4])),
                                      dt.date(y, mo, int(row[5])))
                self.assertTrue(set(need) <= present, (r, row))


class OracleTest(unittest.TestCase):
    def test_oracle_reproduces_fixtures_answers(self):
        oracle.self_check()


class OutputTest(unittest.TestCase):
    def test_output_lists_every_declared_metric(self):
        bench, e2e, layers = declared()
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layers, run.PER_LAYER)
        self.assertEqual(bench["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(run.WORKLOADS))
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for trace, names in ((0, e2e), (1, layers)):
            line = run.result_line({n: 1.5 for n in names}, trace, 3, 1, 0)
            got = json.loads(line)
            self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual((got["attempted"], got["failed"], got["correct"]), (3, 1, True))
            self.assertEqual(list(got["metrics"]), names)
            for n, v in got["metrics"].items():
                self.assertEqual(v["unit"], units[n])

    @unittest.skipUnless(os.environ.get("PERFBENCH_RUN") == "1", "set PERFBENCH_RUN=1")
    def test_command_prints_every_declared_metric(self):
        bench, e2e, layers = declared()
        for w in bench["workloads"]:
            for trace, names in ((0, e2e), (1, layers)):
                out = subprocess.run(
                    bench["command"] + ["--workload", w["name"], "--seed", "1",
                                        "--seconds", "2", "--trace", str(trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
                got = json.loads(out.splitlines()[-1])
                self.assertTrue(got["correct"])
                self.assertEqual(got["failed"], 0)
                self.assertEqual(list(got["metrics"]), names)


if __name__ == "__main__":
    unittest.main()
