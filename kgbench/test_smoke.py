#!/usr/bin/env python3
"""The benchmark's own test: runs the smoke mode (every workload on a
tiny fixed-seed input, one untraced and one traced iteration each) and
checks that it prints every metric BENCHMARK.json names, with its unit,
that every output check ran and passed, and that the run reports no
failed operation.

    python3 kgbench/test_smoke.py
"""
import json
import pathlib
import re
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
CHECKS = {
    "kg-build": ["committed triples == Engine.run", "committed triples are distinct",
                 "analytics committed", "resumed live markers == uninterrupted",
                 "resumed triple count == uninterrupted", "resumed triples == Engine.run",
                 "no-op resume adds no manifest"],
    "kg-incremental": ["one batch per backlog file", "distinct triple count",
                       "accumulated DISTINCT triples == Engine.run"],
}


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        p = subprocess.run([sys.executable, "kgbench/run.py", "--smoke"], cwd=ROOT,
                           capture_output=True, text=True, timeout=300)
        cls.rc, cls.lines = p.returncode, p.stdout.splitlines()

    def printed(self, workload, kind):
        for line in self.lines:
            m = re.match(rf"\[kgbench\] smoke {workload} {kind} (\{{.*\}})$", line)
            if m:
                return json.loads(m.group(1))
        self.fail(f"no {kind} metrics printed for {workload}")

    def test_result_has_no_failed_operation(self):
        self.assertEqual(self.rc, 0)
        result = json.loads(self.lines[-1])
        self.assertTrue(result["correct"])
        self.assertGreater(result["attempted"], 0)
        self.assertEqual(result["failed"], 0)

    def test_every_metric_is_printed_with_its_unit(self):
        for w in self.bench["workloads"]:
            for kind in ("end_to_end", "per_layer"):
                got = self.printed(w["name"], kind)
                want = {m["name"]: m["unit"] for m in self.bench[kind]}
                self.assertEqual(set(got), set(want), f"{w['name']} {kind}")
                for name, unit in want.items():
                    self.assertEqual(got[name]["unit"], unit, name)
            for m in self.bench["end_to_end"]:
                self.assertGreater(self.printed(w["name"], "end_to_end")[m["name"]]["value"], 0, m["name"])

    def test_every_output_check_runs_and_passes(self):
        for workload, checks in CHECKS.items():
            for check in checks:
                hits = [l for l in self.lines if l.startswith("[kgbench] check") and workload in l and check in l]
                self.assertTrue(hits, f"{workload}: {check} did not run")
                self.assertTrue(all(l.endswith(": ok") for l in hits), hits)

    def test_the_input_is_named(self):
        for workload in CHECKS:
            self.assertTrue(any(re.match(rf"\[kgbench\] {workload} input seed=7 docs=\d+ .* hash=[0-9a-f]{{16}}$", l)
                                for l in self.lines), workload)


if __name__ == "__main__":
    unittest.main()
