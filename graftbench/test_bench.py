#!/usr/bin/env python3
"""Tests of the benchmark itself.

  python3 -m unittest discover -s graftbench -p 'test_*.py'

The generator tests take seconds. The end-to-end tests build the harness on
first use and run each benchmark workload once (a few minutes): every
workload key must run and check out on the generated inputs, and a traced
run must attribute calls to exactly the layers the workload exercises.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class GeneratorTest(unittest.TestCase):
    def generate(self, seed, profile):
        d = tempfile.mkdtemp(prefix="graftbench-gen-")
        self.addCleanup(shutil.rmtree, d)
        gen.generate(seed, profile, d)
        return d

    def test_same_seed_same_bytes(self):
        for profile in sorted(gen.PROFILES):
            a, b = self.generate(7, profile), self.generate(7, profile)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            self.assertEqual(
                names, sorted([t + ".parquet" for t in TABLES] +
                              ["planted.json"]))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), profile)

    def test_other_seed_other_bytes(self):
        a, b = self.generate(7, "curate"), self.generate(8, "curate")
        self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                     os.path.join(b, "documents.parquet"),
                                     shallow=False))

    def test_planted_answers(self):
        import pyarrow.parquet as pq
        d = self.generate(3, "curate")
        with open(os.path.join(d, "planted.json")) as f:
            p = json.load(f)
        text = pq.read_table(os.path.join(d, "documents.parquet"))\
            .column("text").to_pylist()
        self.assertTrue(p["exact_pairs"] and p["near_pairs"])
        for a, b in p["exact_pairs"]:
            self.assertEqual(text[a], text[b])
        for a, b in p["near_pairs"]:
            ta, tb = text[a].split(" "), text[b].split(" ")
            self.assertEqual(len(ta), len(tb))
            self.assertEqual(sum(x != y for x, y in zip(ta, tb)), 1)
        self.assertGreaterEqual(len(set(" ".join(text).split(" "))), 2000)
        self.assertEqual(sorted(q for q, _ in p["twins"]), list(range(20)))


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "8", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class EndToEndTest(unittest.TestCase):
    LAYERS = {
        "curate": {"text", "llm.dedup", "llm.governance", "llm.curation",
                   "ml"},
        "serve": {"llm.similarity", "llm.retrieval", "relational", "stream",
                  "sources", "streaming"},
    }

    def test_every_key_checks_out(self):
        names = [m["name"] for m in bench()["end_to_end"]]
        for w in self.LAYERS:
            r = run(w, 0)
            self.assertEqual((r["correct"], r["failed"]), (True, 0), w)
            self.assertEqual(sorted(r["metrics"]), sorted(names))
            for n, m in r["metrics"].items():
                self.assertGreater(m["value"], 0, f"{w} {n}")

    def test_traced_calls_follow_layers(self):
        names = [m["name"] for m in bench()["per_layer"]]
        for w, layers in self.LAYERS.items():
            r = run(w, 1)
            self.assertEqual(sorted(r["metrics"]), sorted(names))
            for layer in gen_layers(names):
                calls = r["metrics"][f"{layer}.calls"]["value"]
                if layer in layers:
                    self.assertGreater(calls, 0, f"{w} {layer}")
                else:
                    self.assertEqual(calls, 0, f"{w} {layer}")


def gen_layers(names):
    return sorted({n[:-len(".calls")] for n in names if n.endswith(".calls")})


if __name__ == "__main__":
    unittest.main()
