"""Tests of the benchmark itself: generator, checkers, metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import random
import re
import shutil
import unittest

import pandas as pd

import check
import gen
import run

WORK_DIR = os.path.join(run.ROOT, ".bench_run", f"test-{os.getpid()}")


def digest_tree(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def store_rows(expected):
    """The rows a correct staged store holds for `expected`."""
    rows = []
    for (c, h), vals in sorted(expected.items()):
        t = gen.hour_str(h)
        sev = check.severity(vals)
        rows.append((c, t, int(t[11:13])) + vals +
                    (None, check.aqi(vals[1]), sev, check.risk_class(sev)))
    return rows


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for name, make in (
                ("aq", lambda d, s: gen.aq_batches(d, s, **gen.AQ_WARM)),
                ("corpus", lambda d, s: gen.corpus(d, s, **gen.CORPUS_WARM))):
            a, b, c = (os.path.join(WORK_DIR, f"{name}{i}") for i in "abc")
            make(a, 7)
            make(b, 7)
            make(c, 8)
            self.assertEqual(digest_tree(a), digest_tree(b), name)
            self.assertNotEqual(digest_tree(a), digest_tree(c), name)

    def test_seeds_keep_corpus_size(self):
        base = gen.corpus(os.path.join(WORK_DIR, "s0"), 0, **gen.CORPUS_WARM)
        for seed in (1, 2, 3):
            sizes = gen.corpus(os.path.join(WORK_DIR, f"s{seed}"), seed, **gen.CORPUS_WARM)
            for t, (rows, nbytes) in sizes.items():
                self.assertGreater(rows, base[t][0], t)
                self.assertLess(rows, base[t][0] * 1.05, t)
                self.assertLess(abs(nbytes / base[t][1] - 1), 0.05, t)

    def test_corpus_matches_sf01_figures(self):
        d = os.path.join(WORK_DIR, "sf")
        gen.corpus(d, 0, **gen.CORPUS_FULL)
        got, want = gen.corpus_stats(d), gen.SF01
        exact = ("docs", "words_min", "words_max", "distinct_words", "sources",
                 "docs_per_source_min", "docs_per_source_max", "vecs", "dim", "labels",
                 "norm_min", "norm_max")
        near = {"text_mb": 0.03 * want["text_mb"], "words_p25": 3, "words_p50": 3,
                "words_p75": 3, "exact_dup_share": 0.001, "near_dup_share": 0.01,
                "vecs_per_label_min": 15, "vecs_per_label_max": 15, "label_cos_p50": 0.01}
        near.update({k: 0.015 for k in want if k.startswith("lang_")})
        self.assertEqual(set(got), set(want))
        for k in exact:
            self.assertEqual(got[k], want[k], k)
        for k, tol in near.items():
            self.assertLessEqual(abs(got[k] - want[k]), tol, k)

    def test_aq_redelivery_and_relanding(self):
        expected, rows, _ = gen.aq_batches(os.path.join(WORK_DIR, "aq"), 3, **gen.AQ_FULL)
        c = gen.AQ_FULL
        distinct_hours = c["window_h"] + (c["batches"] - 1) * c["step_h"]
        # every (city, hour) lands once in the store, re-deliveries included
        self.assertEqual(len(expected), c["cities"] * distinct_hours)
        self.assertGreater(rows, c["cities"] * c["batches"] * c["window_h"])


class CheckerTest(unittest.TestCase):
    """For each workload, the checker accepts a correct output and
    rejects the same output with one row perturbed."""

    def test_aq_pipeline_store(self):
        expected, _, _ = gen.aq_batches(os.path.join(WORK_DIR, "aq"), 5, **gen.AQ_WARM)
        shutil.rmtree(WORK_DIR, ignore_errors=True)
        good = store_rows(expected)
        self.assertEqual(check.check_store(good, expected), [])
        i = random.Random(0).randrange(len(good))
        r = list(good[i])
        r[4] = (r[4] or 0.0) + 0.1  # pm2_5
        self.assertNotEqual(check.check_store(good[:i] + [tuple(r)] + good[i + 1:], expected), [])
        self.assertNotEqual(check.check_store(good[:i] + good[i + 1:], expected), [])
        self.assertNotEqual(check.check_store(good + [good[i]], expected), [])

    def _registry_case(self, frame):
        shuffled = frame.sample(frac=1.0, random_state=1)[list(reversed(frame.columns))]
        self.assertEqual(check.frames_equal(shuffled, frame), [])
        bad = frame.copy()
        col = frame.columns[-1]
        bad.loc[len(bad) // 2, col] = bad[col].iloc[len(bad) // 2] + 1
        self.assertNotEqual(check.frames_equal(bad, frame), [])

    def test_stream_curation_rows(self):
        self._registry_case(pd.DataFrame({
            "doc_id": range(50), "text_hash": [f"h{i}" for i in range(50)],
            "lang": ["en"] * 50, "source": [f"src{i % 20}" for i in range(50)],
            "n_chars": [100 + i for i in range(50)], "quality": [0.5 + i / 100 for i in range(50)]}))

    def test_curation_recipe_rows(self):
        self._registry_case(pd.DataFrame({
            "source": [f"src{i}" for i in range(20)], "n_curated": [240] * 20,
            "n_selected": [100 + i for i in range(20)], "last_pos": [4000 + i for i in range(20)]}))

    def test_fixpoint_loops_rows(self):
        self._registry_case(pd.DataFrame({
            "node": [f"h{i}" for i in range(11)], "rank": [1000 * i for i in range(11)],
            "iters": [44] * 11, "delta": [0] * 11}))


class BenchmarkSpecTest(unittest.TestCase):
    def test_metric_names(self):
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertLessEqual(len(spec["end_to_end"]), 16)
        self.assertLessEqual(len(spec["per_layer"]), 128)
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        # every per-layer metric is produced by the harness (error_rate by run.py)
        layers = open(os.path.join(run.HERE, "scala", "Layers.scala")).read()
        for m in spec["per_layer"]:
            if m["name"] != "error_rate":
                self.assertTrue(re.search(rf'"{re.escape(m["name"])}"', layers) or
                                m["name"].endswith(".self_s"), m["name"])


if __name__ == "__main__":
    unittest.main()
