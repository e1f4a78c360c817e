"""Self-tests of the benchmark: seeded inputs, output checks, names.

    python3 -m unittest discover -s e2ebench/tests

The sink-check cases run in the JVM (e2ebench.SelfTest), so the first
run builds the harness.
"""
import collections
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.diff_files or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


class SeededInputs(unittest.TestCase):
    def gen_all(self, root, seed):
        gen.gen_wordcount(os.path.join(root, "wc"), seed, 0.2, vocab=2000)
        gen.gen_identity(os.path.join(root, "id"), seed, 0.2)
        gen.gen_documents(os.path.join(root, "docs.parquet"), seed, 3, 200)
        gen.gen_tables(os.path.join(root, "tables"), seed, 4000)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.gen_all(a, 7)
            self.gen_all(b, 7)
            self.gen_all(c, 8)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(filecmp.cmp(os.path.join(a, "wc", "input", "part-0.txt"),
                                         os.path.join(c, "wc", "input", "part-0.txt"),
                                         shallow=False))

    def test_tally_matches_reference_tokenizer(self):
        """The generator's tally equals a strtok-style re-count of the
        text it wrote (delimiters space comma period quotes)."""
        with tempfile.TemporaryDirectory() as d:
            g = gen.gen_wordcount(d, 3, 0.3, vocab=3000)
            counts = collections.Counter()
            for p in g["inputs"]:
                with open(p) as f:
                    for line in f.read().split("\n"):
                        counts.update(t for t in re.split(r"[ ,.\"']", line) if t)
            with open(os.path.join(d, "tally.tsv")) as f:
                tally = {w: int(n) for w, n in (ln.split("\t") for ln in f.read().splitlines())}
            self.assertEqual(dict(counts), tally)

    def test_identity_hash_is_the_lines_multiset(self):
        with tempfile.TemporaryDirectory() as d:
            g = gen.gen_identity(d, 5, 0.1)
            lines = []
            for p in g["inputs"]:
                with open(p, "rb") as f:
                    lines += f.read().split(b"\n")
            self.assertEqual(len(lines), g["lines"])
            self.assertEqual(len({ln.split(b",", 1)[0] for ln in lines}), g["lines"])
            self.assertEqual(sum(map(gen.line_hash, lines)) % 2 ** 64, int(g["multiset_hash"]))


class OutputChecks(unittest.TestCase):
    def test_sink_checks_reject_corrupted_outputs(self):
        run.build()
        with tempfile.TemporaryDirectory() as d:
            p = subprocess.run(run.java_cmd(d)[:-1] + ["e2ebench.SelfTest", d],
                               capture_output=True, text=True, timeout=120)
        print(p.stdout, end="")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertEqual(p.stdout.count("rejected"), 10)

    def test_oracle_diff_rejects_corrupted_rows(self):
        ref = pd.DataFrame({"k": ["a", "b", "c"], "n": [1, 2, 3], "x": [0.5, 1.25, 2.0]})
        self.assertIsNone(oracle.diff(ref.iloc[::-1].copy(), ref))
        off = ref.copy()
        off.loc[1, "n"] = 3
        self.assertIsNotNone(oracle.diff(off, ref))
        self.assertIsNotNone(oracle.diff(ref.iloc[:2].copy(), ref))
        self.assertIsNotNone(oracle.diff(ref.rename(columns={"x": "y"}), ref))


class Names(unittest.TestCase):
    def test_printed_names(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = [m["name"] for m in bench["end_to_end"]]
        layer = [m["name"] for m in bench["per_layer"]]
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        for n in e2e + layer + sorted(run.WORKLOADS):
            self.assertRegex(n, NAME)
            self.assertLessEqual(len(n), 64)
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
