"""Tests of the benchmark's own logic: the tail-percentile rule, span
self-time arithmetic, the metric derivation, and (through the JVM)
the order-insensitivity of the result digest.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 leaves exactly 10 above it; p95 would leave only 5
        self.assertEqual(metrics.tail(xs), (90.0, 90))

    def test_boundary_counts(self):
        self.assertEqual(metrics.tail(list(range(1, 40)))[0], 50.0)   # 39: p75 leaves 9
        self.assertEqual(metrics.tail(list(range(1, 41)))[0], 75.0)   # 40: p75 leaves 10
        self.assertEqual(metrics.tail(list(range(1, 1001)))[0], 99.0)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (50.0, 2.0))

    def test_order_does_not_matter(self):
        xs = [float(i % 17) for i in range(200)]
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))


def span(i, name, lo, hi, parent):
    return {"id": "q", "span_id": i, "name": name, "start_ms": lo, "end_ms": hi, "parent": parent}


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_disjoint_children_sum_to_parent(self):
        spans = [span("r", "query", 0, 1000, None),
                 span("a", "call", 0, 400, "r"),
                 span("b", "materialize", 400, 1000, "r"),
                 span("j1", "job", 100, 300, "a"),
                 span("j2", "job", 500, 900, "b")]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["r"], 0.0)
        self.assertAlmostEqual(st["a"], 0.2)
        self.assertAlmostEqual(st["b"], 0.2)
        self.assertAlmostEqual(st["j1"], 0.2)
        self.assertAlmostEqual(sum(st.values()), 1.0)

    def test_overlapping_siblings_are_charged_once(self):
        spans = [span("r", "call", 0, 1000, None),
                 span("j1", "job", 0, 600, "r"),
                 span("j2", "job", 400, 1000, "r"),
                 span("j3", "job", 900, 1200, "r")]  # runs past its parent
        st = metrics.self_times(spans)
        # the first-started job owns the overlap; time past the root is not ours
        self.assertAlmostEqual(st["r"], 0.0)
        self.assertAlmostEqual(st["j1"], 0.6)
        self.assertAlmostEqual(st["j2"], 0.4)
        self.assertAlmostEqual(st["j3"], 0.0)
        self.assertAlmostEqual(sum(st.values()), 1.0)

    def test_deeper_spans_win_and_trees_are_separate(self):
        spans = [span("r", "query", 0, 1000, None),
                 span("t", "trigger", 100, 700, "r"),
                 span("j1", "job", 0, 300, "r"),      # overlaps the trigger, starts first
                 span("j2", "job", 200, 400, "t"),    # under the trigger: deeper
                 span("s", "query", 1000, 1500, None),
                 span("k", "job", 1100, 1200, "s")]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["j2"], 0.2)
        self.assertAlmostEqual(st["j1"], 0.2)         # 0-200; 200-300 goes to j2
        self.assertAlmostEqual(st["t"], 0.3)          # 100-200 is j1's, 200-400 j2's
        self.assertAlmostEqual(st["r"], 0.3)
        self.assertAlmostEqual(st["r"] + st["t"] + st["j1"] + st["j2"], 1.0)
        self.assertAlmostEqual(st["s"] + st["k"], 0.5)

    def test_execution_spans_nest_jobs_under_triggers(self):
        ex = {"start_ms": 0, "call_end_ms": 800, "end_ms": 1000, "query": "x"}
        events = {"triggers": [{"start_ms": 100, "duration_ms": {"triggerExecution": 300}}],
                  "phases": [{"phase": "planning", "start_ms": 850, "end_ms": 870}],
                  "jobs": [{"submit_ms": 150, "end_ms": 250}, {"submit_ms": 900, "end_ms": 990},
                           {"submit_ms": 1500, "end_ms": 1600}]}
        spans = metrics.execution_spans(ex, "0:x", events)
        by = {s["name"]: [] for s in spans}
        for s in spans:
            by[s["name"]].append(s)
        self.assertEqual(len(by["exec.job"]), 2)  # the job after the window is not ours
        trig = by["streaming.trigger"][0]
        parents = {s["start_ms"]: s["parent"] for s in by["exec.job"]}
        self.assertEqual(parents[150], trig["span_id"])
        self.assertEqual(parents[900], by["materialize"][0]["span_id"])
        self.assertEqual(by["plan.planning"][0]["parent"], by["materialize"][0]["span_id"])
        self.assertTrue(all(s["id"] == "0:x" for s in spans))


class OverheadTest(unittest.TestCase):
    def test_trend_cancels(self):
        # passes speed up by 1 s each; traced passes cost 0.2 s more
        times = [20.0, 9.0, 8.2, 7.0, 6.2, 5.0, 4.2]
        traced = [True, False, True, False, True, False, True]
        self.assertAlmostEqual(metrics.tracing_overhead(times, traced), 0.2)


class EndToEndTest(unittest.TestCase):
    def record(self):
        def ex(q, lo, dur):
            return {"query": q, "start_ms": lo, "call_end_ms": lo + 1, "end_ms": lo + dur,
                    "error": None, "digest": None, "rows": None}
        return {"gen_s": 1.0, "setup_s": 4.0, "heap_live_mb": 100.0,
                "passes": [{"pass": 0, "traced": False, "execs": [ex("a", 0, 4000), ex("b", 4000, 2000)]},
                           {"pass": 1, "traced": False, "execs": [ex("a", 0, 1000), ex("b", 1000, 2000)]},
                           {"pass": 2, "traced": False, "execs": [ex("a", 0, 3000), ex("b", 3000, 2000)]}]}

    def test_pass_times(self):
        m, info = run.end_to_end(self.record())
        self.assertAlmostEqual(m["setup_s"], 4.0)
        self.assertAlmostEqual(m["cold_pass_s"], 6.0)
        self.assertAlmostEqual(m["warm_pass_s"], 4.0)
        self.assertAlmostEqual(m["query_p50_s"], 2.0)
        self.assertEqual(info["warm_samples"], 4)

    def test_warm_pass_is_the_median_of_the_first_five(self):
        r = self.record()
        ex = r["passes"][1]["execs"][0]
        for i, ms in enumerate([9000, 8000, 7000, 6000, 5000, 1000, 1000, 1000]):
            r["passes"].append({"pass": 3 + i, "traced": False, "execs": [dict(ex, end_ms=ms)]})
        m, info = run.end_to_end(r)
        # warm passes 3, 5, 9, 8, 7, 6, 5, 1, 1, 1 s: the first five have median 7 s
        self.assertAlmostEqual(m["warm_pass_s"], 7.0)
        self.assertEqual(info["warm_passes"], 10)

    def test_digest_check_counts_mismatches(self):
        r = self.record()
        for p in r["passes"]:
            p["execs"][0].update(digest="s|3|7", rows=3)
            p["execs"][1].update(digest="s|2|8", rows=2)
        r["passes"][0]["execs"][1].update(digest="s|2|9")
        digests = {"base": {"a": {"rows": 3, "digest": "s|3|7"}, "b": {"rows": 2, "digest": "s|2|8"}}}
        att, failed, _ = run.check(r, {"dataset": "base"}, digests, set())
        self.assertEqual((att, failed), (6, 1))
        att, failed, _ = run.check(r, {"dataset": "base"}, digests, {"b"})
        self.assertEqual(failed, 0)


class PairRuleTest(unittest.TestCase):
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_gain_needs_nine_of_ten_wins_and_a_gap_over_the_iqr(self):
        new = [x - 1.0 for x in self.base]
        self.assertEqual(compare.verdict(self.base, new, "lower", 0.1)["verdict"], "gain")
        new[0] = new[1] = 11.0  # two losses: 8 of 10 wins
        self.assertNotEqual(compare.verdict(self.base, new, "lower", 0.1)["verdict"], "gain")

    def test_regression_beyond_the_bound(self):
        new = [x * 1.2 for x in self.base]
        self.assertEqual(compare.verdict(self.base, new, "lower", 0.1)["verdict"], "regression")
        self.assertEqual(compare.verdict(self.base, new, "lower", 0.25)["verdict"], "unchanged")

    def test_gain_needs_ten_pairs(self):
        base, new = self.base[:3], [x - 1.0 for x in self.base[:3]]
        self.assertNotEqual(compare.verdict(base, new, "lower", 0.1)["verdict"], "gain")

    def test_more_failures_refuse_gain_and_unchanged(self):
        new = [x - 1.0 for x in self.base]
        self.assertEqual(compare.verdict(self.base, new, "lower", 0.1, 0, 1)["verdict"], "failing")
        self.assertEqual(compare.verdict(self.base, self.base, "lower", 0.1, 0, 2)["verdict"], "failing")
        self.assertEqual(compare.verdict(self.base, new, "lower", 0.1, 2, 2)["verdict"], "gain")

    def test_unresolved_when_the_base_spreads_past_the_bound(self):
        base = [5.0, 15.0, 6.0, 14.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
        new = [x * 1.01 for x in base]
        self.assertEqual(compare.verdict(base, new, "lower", 0.1)["verdict"], "unresolved")


class DigestTest(unittest.TestCase):
    def test_digest_is_order_insensitive(self):
        cp = run.build()
        os.makedirs(os.path.join(run.HERE, ".run"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(run.HERE, ".run")) as tmp:
            cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
                "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.DigestCheck"]
            r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=170)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("order_insensitive ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
