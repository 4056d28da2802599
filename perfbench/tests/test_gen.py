"""The ingest input generator is deterministic by seed.

Run: python3 -m unittest discover perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402

TICKS = 6


def read(path):
    with open(path) as f:
        return f.read()


def digests(out_dir):
    """Relative path -> SHA-256 of every generated file; absolute paths
    inside plan.json are made relative first."""
    out = {}
    for base, _, files in os.walk(out_dir):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                data = fh.read().replace(out_dir.encode(), b"<out>")
            out[os.path.relpath(p, out_dir)] = hashlib.sha256(data).hexdigest()
    return out


@unittest.skipUnless(os.path.exists(os.path.join(run.SF_DIR, "lineitem.parquet")),
                     "fixture not present")
class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        scratch = os.path.join(run.ROOT, ".bench_run")
        os.makedirs(scratch, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=scratch)
        cls.runs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, name)
            plan = gen.generate(seed, TICKS, run.SF_DIR, d, os.path.join(d, "root"))
            cls.runs[name] = (d, plan)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes_and_expected_audit(self):
        da, db = digests(self.runs["a"][0]), digests(self.runs["b"][0])
        self.assertEqual(da, db)
        self.assertIn(os.path.join("expected", "metrics.csv"), da)

    def test_other_seed_other_bytes_and_expected_audit(self):
        da, dc = digests(self.runs["a"][0]), digests(self.runs["c"][0])
        for f in ("stage/metrics/b000.csv", "expected/metrics.csv", "expected/dims.csv"):
            self.assertNotEqual(da[f], dc[f], f)

    def test_expectations_match_the_files(self):
        d, plan = self.runs["a"]
        self.assertEqual(len(plan["ticks"]), TICKS)
        for i, t in enumerate(plan["ticks"]):
            e = t["expect"]["metrics"]
            lines = read(os.path.join(d, "stage", "metrics", e["files"][0])).splitlines()[1:]
            bad = [ln for ln in lines if ",n/a," in ln]
            ids = {ln.split(",")[0] for ln in lines if ln not in bad}
            self.assertEqual(len(bad), e["rejected"])
            self.assertEqual(len(ids), e["loaded"])
            self.assertGreater(len(lines) - len(bad), len(ids), "batch has duplicates")
            self.assertEqual(e["evolved"], ["tax"] if i == plan["evolution_tick"] else [])
        expected = read(os.path.join(d, "expected", "metrics.csv")).splitlines()
        self.assertEqual(len(expected) - 1,
                         sum(t["expect"]["metrics"]["loaded"] for t in plan["ticks"]))
        self.assertTrue(plan["inflight_ticks"])
        for i in plan["inflight_ticks"]:
            part = [a for a in plan["ticks"][i]["before"] if a[1].endswith(".csv.part")]
            self.assertEqual(len(part), 1)
            full = read(part[0][1][:-len(".part")])
            text = read(part[0][1])
            self.assertTrue(full.startswith(text) and len(text) < len(full))
            self.assertFalse(text.endswith("\n"), "the in-flight file ends mid-line")
        # the dims manifest is placed once and stays between generations
        dims_manifest = [i for i, t in enumerate(plan["ticks"]) for a in t["before"]
                         if a[-1].endswith(os.path.join("dims", "manifest.txt"))]
        self.assertEqual(dims_manifest, [0])
        self.assertEqual({a[0] for t in plan["ticks"] for a in t["before"]}, {"copy", "move"})
        for i, t in enumerate(plan["ticks"]):
            self.assertEqual(bool(t["expect"]["dims"]["files"]), i in plan["dims_ticks"])
        json.dumps(plan)


if __name__ == "__main__":
    unittest.main()
