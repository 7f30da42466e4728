"""Self-test of the benchmark: metric names and units against
``BENCHMARK.json``, the correctness comparisons, generator determinism,
and a smoke run of every workload with tracing off and on.

    python3 perfbench/selftest.py           # everything (about 4 minutes)
    python3 perfbench/selftest.py --quick   # no Spark runs

The file name keeps it out of the repository's pytest collection: the
smoke runs start Spark sessions of their own.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import ingest, singer_gen, table_gen  # noqa: E402
from perfbench.common import Context  # noqa: E402

QUICK = "--quick" in sys.argv
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


class SpecTest(unittest.TestCase):
    def test_shape(self):
        spec = _spec()
        self.assertEqual(
            set(spec),
            {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
        )
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))
        self.assertEqual(
            sorted(w["name"] for w in spec["workloads"]), ["ingest", "query"]
        )


class ComparisonTest(unittest.TestCase):
    def _ctx(self) -> Context:
        return Context(
            spark=None, tracer=None, work="", workload="ingest", seed=0,
            seconds=0, smoke=True, queries={},
        )

    def test_ingest_output_mismatch_counts(self):
        log = singer_gen.generate(3, 300, 30)
        want = ingest.expected_figures(log)
        ctx = self._ctx()
        ingest.compare_output(ctx, "same", dict(want), want)
        self.assertEqual((ctx.attempted, ctx.failed), (len(want), 0))
        got = dict(want)
        rows, ids, crc, alen = got["orders"]
        got["orders"] = (rows, ids, crc + 1, alen)
        del got["sessions"]
        ingest.compare_output(ctx, "bad", got, want)
        self.assertEqual(ctx.failed, 2)

    def test_state_mismatch_counts(self):
        log = singer_gen.generate(3, 300, 30)
        ctx = self._ctx()
        ingest.compare_state(ctx, "same", log.last_state.replace(",", ", "), log.last_state)
        ingest.compare_state(ctx, "stale", '{"bookmarks": {}}', log.last_state)
        ingest.compare_state(ctx, "none", None, log.last_state)
        self.assertEqual((ctx.attempted, ctx.failed), (3, 2))

    def test_frame_comparison(self):
        import pandas as pd

        from perfbench.query import compare_frames

        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"]})
        self.assertEqual(compare_frames(a, a.iloc[::-1][["v", "k"]]), "")
        self.assertIn("valuehash", compare_frames(a, a.assign(v=["x", "y", "z"])))
        self.assertIn("rows", compare_frames(a, a.iloc[:2]))
        self.assertIn("columns", compare_frames(a, a.rename(columns={"v": "w"})))


class GeneratorTest(unittest.TestCase):
    def test_singer_log_is_seeded(self):
        a, b = singer_gen.generate(5, 500, 50), singer_gen.generate(5, 500, 50)
        self.assertEqual(a.lines, b.lines)
        self.assertNotEqual(a.lines, singer_gen.generate(6, 500, 50).lines)
        self.assertEqual(sum(e.rows for e in a.expected.values()), 500)
        self.assertEqual(json.loads(a.lines[a.state_lines[-1]])["value"],
                         json.loads(a.last_state))

    def test_tables_are_seeded(self):
        a, b = table_gen.make_tables(5, 600), table_gen.make_tables(5, 600)
        self.assertEqual(sorted(a), sorted(table_gen.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(table_gen.make_tables(6, 600)["lineitem"]))


@unittest.skipIf(QUICK, "--quick")
class SmokeTest(unittest.TestCase):
    def test_workloads_report_every_metric(self):
        spec = _spec()
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            units = {m["name"]: m["unit"] for m in spec[group]}
            for w in spec["workloads"]:
                code, lines = _run([
                    "--workload", w["name"], "--seed", "1", "--seconds", "1",
                    "--trace", str(trace), "--smoke",
                ])
                self.assertEqual(code, 0, (w["name"], trace))
                result = json.loads(lines[-1])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(result["failed"], 0)
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, units, (w["name"], trace))
                if trace == 0:
                    for k, v in result["metrics"].items():
                        self.assertGreater(v["value"], 0, (w["name"], k))

    def test_refuses_without_the_program(self):
        with tempfile.TemporaryDirectory() as bare:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, lines = _run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(ln.startswith("{") for ln in lines))


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--quick"])
