"""Tests of the benchmark harness's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests

The content-hash test builds the engine and the harness (as a run does)
and starts one small local Spark session.
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from harness import build, gen, metrics, mix, stats  # noqa: E402


def read(path):
    with open(path) as fh:
        return fh.read()


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_too_few_samples_for_any_percentile(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(1))

    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(reversed(xs), 100), 10)
        self.assertEqual(stats.percentile([7], 90), 7)


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [
            (1, 0, "q", "query", 0.0, 10.0),
            (2, 1, "build", "sparkentry", 1.0, 3.0),
            (3, 1, "plan", "plan", 2.0, 5.0),  # overlaps build
            (4, 1, "exec", "exec", 8.0, 12.0),  # runs past its parent
            (5, 4, "job", "spark.job", 9.0, 11.0),
        ]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["query"], 10.0 - (4.0 + 2.0))
        self.assertAlmostEqual(s["sparkentry"], 2.0)
        self.assertAlmostEqual(s["plan"], 3.0)
        self.assertAlmostEqual(s["exec"], 4.0 - 2.0)
        self.assertAlmostEqual(s["spark.job"], 2.0)

    def test_self_times_sum_to_root_duration_for_nested_spans(self):
        spans = [(1, 0, "w", "workload", 0.0, 4.0), (2, 1, "b", "sparkentry", 0.5, 1.5),
                 (3, 1, "e", "exec", 1.5, 4.0), (4, 3, "j", "spark.job", 2.0, 3.0)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 4.0)


def traced_raw():
    """A traced query_mix run: 2 traced passes, 2 untraced, on 4 cores."""
    spans = [
        (1, 0, "job", "workload", 0.0, 10.0),
        (2, 1, "q_stream_x", "query", 0.0, 6.0),
        (3, 2, "build", "sparkentry", 0.0, 5.0),
        (4, 2, "plan", "plan", 5.0, 5.5),
        (5, 2, "exec", "exec", 5.5, 6.0),
        (6, 1, "q_other", "query", 6.0, 9.0),
        (7, 6, "build", "sparkentry", 6.0, 7.0),
        (8, 6, "plan", "plan", 7.0, 7.5),
        (9, 6, "exec", "exec", 7.5, 9.0),
    ]
    return {
        "jobs": [{"traced": False, "wall": 8.0, "cpu": 20.0, "jit_cpu": 1.0},
                 {"traced": True, "wall": 10.0, "cpu": 22.0, "jit_cpu": 0.5},
                 {"traced": False, "wall": 9.0, "cpu": 20.0, "jit_cpu": 3.0},
                 {"traced": True, "wall": 11.0, "cpu": 22.0, "jit_cpu": 1.5}],
        "setup_s": [3.0, 0.1, 0.2], "session_build_s": [2.0, 0.1, 0.2], "peak_rss_mb": 900.0,
        "warmup_input_bytes": 4e6, "load": {"cores": 4},
        "trace": {"spans": spans, "kernels": {"vec_dot": 5.0}, "layers": {}, "stream_batch_s": [1.0, 3.0],
                  "counters": {"exec.task_run_s": 12.0, "exec.s": 6.0, "exec.jobs": 10,
                               "sparkentry.build_jobs": 8, "exec.shuffle_write_records": 50}},
    }


class RatioBases(unittest.TestCase):
    def test_empty_base_is_zero(self):
        self.assertEqual(stats.ratio(3.0, 0), 0.0)
        self.assertEqual(stats.ratio(3.0, 2.0), 1.5)

    def test_layer_ratios_use_their_stated_bases(self):
        m = metrics.layer("query_mix", traced_raw(), {"queries": ["a", "b"]})
        # slot_util = task run seconds / (exec seconds x cores)
        self.assertAlmostEqual(m["exec.slot_util"][0], 12.0 / (6.0 * 4))
        # tracing overhead = median traced job / median untraced job
        self.assertAlmostEqual(m["trace.overhead"][0], 10.5 / 8.5)
        # counts are per traced job
        self.assertAlmostEqual(m["sparkentry.build_jobs"][0], 4.0)
        # stream twins' build share = their build spans / their query spans
        self.assertAlmostEqual(m["streaming.build_share"][0], 5.0 / 6.0)
        # what the phase spans leave of the job span, per traced job
        self.assertAlmostEqual(m["trace.unaccounted_s"][0], (10.0 - 9.0) / 2)
        self.assertEqual(m["functions.vec_dot.rows_per_s"][0], 5.0)
        self.assertEqual(m["functions.nfc.rows_per_s"][0], 0.0)
        # CPU per traced job, less the JIT compilers' CPU, which is its own metric
        self.assertAlmostEqual(m["jvm.cpu_s"][0], (21.5 + 20.5) / 2)
        self.assertAlmostEqual(m["jvm.jit_cpu_s"][0], 1.0)

    def test_combine_ratio_is_shuffle_records_per_token(self):
        raw = traced_raw()
        m = metrics.layer("wordcount", raw, {"tokens": 100, "distinct_words": 7})
        self.assertAlmostEqual(m["wordcount.combine_ratio"][0], (50 / 2) / 100)

    def test_end_to_end_rates(self):
        m = metrics.end_to_end("query_mix", traced_raw(), {"queries": ["a", "b"]})
        self.assertAlmostEqual(m["job_s"][0], 8.5)
        self.assertAlmostEqual(m["items_per_s"][0], 2 / 8.5)
        self.assertAlmostEqual(m["input_mb_per_s"][0], 4.0 / 8.5)
        self.assertAlmostEqual(m["setup_s"][0], 0.2)


class Generators(unittest.TestCase):
    def test_wordcount_expected_top_k_matches_a_recount_and_keeps_the_tie(self):
        with tempfile.TemporaryDirectory() as d:
            facts = gen.wordcount_corpus(d, seed=7, tokens=20_000, files=3, vocab=2_000)
            counts = {}
            for f in sorted(os.listdir(d)):
                if f.endswith(".txt"):
                    for tok in read(os.path.join(d, f)).split():
                        w = gen.normalize_word(tok)
                        if w:
                            counts[w] = counts.get(w, 0) + 1
            expected = read(os.path.join(d, "expected-top-k"))
            self.assertEqual(expected, "".join(f"{w}: {c}\n" for w, c in gen.top_k(counts)))
            ranked = sorted(counts.items(), key=lambda wc: (-wc[1], wc[0]))
            self.assertEqual(ranked[gen.K - 1][1], ranked[gen.K][1])
            self.assertEqual(sum(counts.values()), facts["tokens"])

    def test_curation_corpus_is_seeded_and_plants_its_structure(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.curation_corpus(os.path.join(d, "a"), seed=3, docs=600)
            b = gen.curation_corpus(os.path.join(d, "b"), seed=3, docs=600)
            self.assertEqual(a, b)
            self.assertEqual(a["docs"], 600)
            self.assertTrue(a["exact_groups"] and a["planted_pairs"])
            self.assertTrue(all(n >= 2 for _, n in a["exact_groups"]))


class MixRule(unittest.TestCase):
    def test_rule_reproduces_the_recorded_mix(self):
        recorded = [(n, f) for n, f, _ in run.read_mix()]
        names = [n for n, _ in recorded] + ["q1_x", "q_stream_zzz", "q_events_zzz"]
        self.assertEqual(len(recorded), len({n for n, _ in recorded}))
        for n, f in recorded:
            self.assertEqual(mix.family(n), f)
        self.assertTrue(set(mix.HEAVIEST) <= {n for n, _ in mix.select(names)})


@unittest.skipUnless(os.path.isdir(build.SPARK_JARS), "needs the Spark jars")
class ContentHashOrderIndependence(unittest.TestCase):
    def test_content_hash_ignores_order_and_partitioning(self):
        build_dir = os.environ.get("CARGO_TARGET_DIR") or os.path.join(run.ROOT, ".bench_build")
        cp = build.build(run.ROOT, build_dir)
        os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
        log = os.path.join(run.WORK, "logs", "content-hash-check.log")
        rc = run.java(cp, "perfbench.ContentHashCheck", [], log)
        self.assertEqual(rc, 0, read(log)[-2000:])
        self.assertIn("ok", read(log).split())


if __name__ == "__main__":
    unittest.main()
