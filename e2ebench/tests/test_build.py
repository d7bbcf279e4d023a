"""Checks that need the built harness (the first one builds it, ~1 min):
the seeded generator is deterministic, and the per-layer metric names the
harness reports are valid and are the ones BENCHMARK.json lists."""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402


def java(main, *args):
    return subprocess.run(["java"] + run.jvm_flags("1g") + ["-cp", run.classpath(), main]
                          + list(args), env=run.jvm_env(), capture_output=True, text=True,
                          check=True).stdout


class BuiltTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()
        cls.dir = os.path.join(run.WORK, f"test-build-{os.getpid()}")
        shutil.rmtree(cls.dir, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, n), d)
                      for r, _, ns in os.walk(d) for n in ns)

    def test_generator_is_seeded(self):
        a, b, c = (os.path.join(self.dir, x) for x in ("a", "b", "c"))
        java("graftbench.GenInputs", "7", a)
        java("graftbench.GenInputs", "7", b)
        java("graftbench.GenInputs", "8", c)
        tables = [f for f in self.files(a) if f.endswith(".parquet")]
        self.assertTrue(tables)
        self.assertEqual(self.files(a), self.files(b))
        for f in tables:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)
        self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                            for f in tables))

    def test_metric_names(self):
        names = java("graftbench.Tracer").split()
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(sorted(listed), sorted(names + ["trace.overhead_ms"]))


if __name__ == "__main__":
    unittest.main()
