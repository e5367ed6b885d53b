"""The benchmark's own tests: generator determinism, metric names against
BENCHMARK.json, and the result-line format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def generate(self, fn, seed, **size):
        d = tempfile.mkdtemp()
        meta = fn(seed, d, **size)
        return run.file_digest(d), meta, d

    def test_er_landing_same_seed_same_bytes(self):
        a, meta, _ = self.generate(gen.gen_er_landing, 5, n_entities=200, n_pages=120)
        b, _, _ = self.generate(gen.gen_er_landing, 5, n_entities=200, n_pages=120)
        c, _, _ = self.generate(gen.gen_er_landing, 6, n_entities=200, n_pages=120)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(meta["records"], meta["abr_rows"] + meta["pages"])

    def test_er_landing_gold_and_mix(self):
        _, meta, d = self.generate(gen.gen_er_landing, 3, n_entities=300, n_pages=300)
        gold = json.load(open(os.path.join(d, "gold.json")))["pairs"]
        self.assertEqual(len(gold), meta["gold_pairs"])
        self.assertEqual(len({g[0] for g in gold}), len(gold))  # one abn per domain
        self.assertTrue(all(meta["mix"][k] > 0 for k in meta["mix"]))
        self.assertEqual(len(os.listdir(os.path.join(d, "abr"))), gen.ER_FILES)

    def test_curation_same_seed_same_bytes(self):
        a, meta, d = self.generate(gen.gen_curation_chain, 5, n_base=80, replicas=2)
        b, _, _ = self.generate(gen.gen_curation_chain, 5, n_base=80, replicas=2)
        c, _, _ = self.generate(gen.gen_curation_chain, 6, n_base=80, replicas=2)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(meta["docs"], 80 * 3)
        planted = json.load(open(os.path.join(d, "gold.json")))["planted"]
        js = [j for _, _, j in planted]
        # the planted pairs straddle the threshold
        self.assertTrue(any(j >= gen.CC_THRESHOLD for j in js))
        self.assertTrue(any(j < gen.CC_THRESHOLD for j in js))

    def test_abn_checksum(self):
        self.assertTrue(gen.abn_valid("51824753556"))  # the ATO's example
        import random
        rng = random.Random(1)
        abn = gen.make_abn(rng)
        self.assertTrue(gen.abn_valid(abn))
        self.assertFalse(gen.abn_valid(gen.break_abn(rng, abn)))

    def test_shingles(self):
        self.assertEqual(gen.shingles("a b"), {"a b"})
        self.assertEqual(gen.shingles("a b c a b c"), {"a b c", "b c a", "c a b"})
        self.assertEqual(gen.jaccard({"x", "y"}, {"y", "z"}), 1 / 3)


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertTrue(set(names) <= set(M.WORKLOADS))
        self.assertGreaterEqual(len(names), 2)

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         M.END_TO_END)
        self.assertIn("setup_s", M.END_TO_END)

    def test_per_layer_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         M.PER_LAYER)
        self.assertLessEqual(len(M.PER_LAYER), 128)

    def test_query_list(self):
        qs = run.SETTINGS["query_sweep"]["queries"]
        number = [int(q[1:].split("_")[0]) for q in qs]
        self.assertEqual(number, sorted(number))  # catalog order
        self.assertEqual(len(set(qs)), len(qs))
        self.assertTrue(set(run.SETTINGS["query_sweep"]["layer_queries"]) <= set(qs))


class ResultTest(unittest.TestCase):
    def fake_er(self):
        passes = [{"pass": i, "s": s, "steal_share": 0.0, "warmup": i == 0,
                   "traced": False, "n_matches": 10, "n_rule": 4, "n_fuzzy": 3,
                   "n_llm": 3}
                  for i, s in enumerate((9.0, 4.0, 5.0, 6.0))]
        return {"passes": passes, "jvm_start_s": 0.5, "session_s": 2.0,
                "peak_rss_mb": 900.0, "cpus": 4, "counts": {}}

    def test_end_to_end_and_result_line(self):
        c = M.Checks()
        c.expect(True, "ok")
        c.values.update(match_precision=0.9, match_recall=0.8, pair_recall=0.8)
        d = tempfile.mkdtemp()
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"records": 100}, f)
        e2e = M.end_to_end("er_landing", self.fake_er(), 1.0, c, d)
        self.assertEqual(list(e2e), list(M.END_TO_END))
        self.assertEqual(e2e["setup_s"][0], 1.0 + 0.5 + 2.0 + 9.0)
        self.assertEqual(e2e["wall_s"][0], 4.0)        # the fastest timed pass
        self.assertEqual(e2e["query_p50_s"][0], 5.0)   # the median timed pass
        self.assertEqual(e2e["query_tail_s"][0], 6.0)
        self.assertEqual(e2e["records_per_s"][0], 25.0)
        line = json.loads(run.result_line(c, e2e))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        self.assertEqual(line["metrics"]["wall_s"], {"value": 4.0, "unit": "s"})

    def test_steal_is_taken_out(self):
        r = self.fake_er()
        r["passes"][1]["steal_share"] = 0.5          # 4.0 s, half of it stolen
        c = M.Checks()
        c.values.update(match_precision=1.0, match_recall=1.0, pair_recall=1.0)
        d = tempfile.mkdtemp()
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"records": 100}, f)
        e2e = M.end_to_end("er_landing", r, 0.0, c, d)
        self.assertEqual(e2e["wall_s"][0], 2.0)
        self.assertEqual(c.values["timed_passes_raw_s"], [4.0, 5.0, 6.0])

    def test_failed_checks_mark_incorrect(self):
        c = M.Checks()
        c.ops(10, 2, "things")
        line = json.loads(run.result_line(c, {}))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]),
                         (False, 10, 2))

    def test_tail(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        xs = list(range(1, 16))           # p33 would sit below the median
        self.assertEqual(M.tail(xs), (15, 100.0))
        xs = list(range(1, 41))           # 40 samples: 10 beyond the 30th
        self.assertEqual(M.tail(xs), (30, 75.0))

    def test_per_layer_from_spans(self):
        def span(i, name, parent, s, **kw):
            base = {k: 0 for k in M.SPAN_SUFFIXES}
            base.update(id=i, name=name, parent=parent, run_id="r", s=s,
                        storage_mb=1.5, task_s=kw.pop("task_s", 0.0), **kw)
            return base
        # a traced run: untraced passes 1 and 3, traced passes 2 and 4
        spans = [span(0, "pass", -1, 4.0),
                 span(1, "dedup.minhash", 0, 3.0, task_s=6.0),
                 span(2, "components", 0, 0.5),
                 span(3, "pass", -1, 4.0),
                 span(4, "dedup.minhash", 3, 3.0, task_s=6.0)]
        passes = [{"pass": i, "s": s, "steal_share": 0.0, "warmup": i == 0,
                   "traced": i in (2, 4)}
                  for i, s in enumerate((9.0, 3.5, 4.0, 3.5, 4.0))]
        traced = {"spans": spans, "cpus": 2, "passes": passes,
                  "peak_rss_mb": 800.0, "counts": {"dedup.minhash.pairs": 7}}
        c = M.Checks()
        c.expect(True, "")
        v, summary = M.per_layer("curation_chain", traced, c)
        self.assertEqual(list(v), list(M.PER_LAYER))
        self.assertEqual(v["dedup.minhash.s"][0], 3.0)
        self.assertEqual(v["dedup.minhash.busy_ratio"][0], 1.0)  # 6 / (3 * 2)
        self.assertEqual(v["dedup.minhash.pairs"][0], 7)
        self.assertEqual(v["trace.overhead_s"][0], 0.5)        # 4.0 - 3.5
        self.assertEqual(summary["span_coverage"], 0.8125)   # median(3.5/4, 3/4)
        self.assertEqual(v["warm_s"][0], 3.5)                 # untraced passes
        self.assertEqual(v["peak_rss_mb"][0], 800.0)
        self.assertEqual(v["fail_ratio"][0], 0.0)
        self.assertEqual(v["sources.abr_xml.s"][0], 0.0)
        self.assertAlmostEqual(summary["top_level"]["dedup.minhash"]["self_s"], 3.0)


if __name__ == "__main__":
    unittest.main()
