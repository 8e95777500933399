"""Tests of the harness's pure logic.

    python3 -m unittest discover -s ddfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import digest, stats, trace  # noqa: E402


def span(sid, start, end, parent=-1, module="op", name="s"):
    return {"id": sid, "parent": parent, "name": name, "module": module,
            "start": start, "end": end}


def job(jid, sid, start, end):
    return {"id": jid, "span": sid, "start": start, "end": end}


def stage(sid, **kw):
    row = dict.fromkeys(trace.STAGE_SUMS, 0)
    row.update({"id": 0, "attempt": 0, "span": sid})
    row.update(kw)
    return row


class PercentileChoice(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.median(xs), 3.0)
        self.assertEqual(stats.percentile(xs, 90.0), 4.6)
        self.assertEqual(stats.percentile([7.0], 90.0), 7.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        root = span(0, 0, 100)
        kids = [span(1, 10, 40, parent=0), span(2, 30, 50, parent=0),
                span(3, 90, 120, parent=0)]
        # children cover 10-50 and 90-100 of the root
        self.assertEqual(trace.self_ms(root, kids), 50)

    def test_nested_spans_in_a_pass(self):
        tr = {"spans": [span(0, 0, 100), span(1, 20, 60, parent=0, module="pipeline"),
                        span(2, 30, 40, parent=1, module="sink")],
              "jobs": [], "stages": [], "phases": []}
        rows = trace.per_span(tr)
        self.assertEqual([rows[i]["self_ms"] for i in range(3)], [60, 30, 10])


class IdleTime(unittest.TestCase):
    def test_wall_minus_union_of_job_intervals(self):
        s = span(0, 0, 100)
        jobs = [job(1, 0, 10, 30), job(2, 0, 20, 40), job(3, 0, 70, 80)]
        self.assertEqual(trace.idle_ms(s, jobs), 60)

    def test_jobs_are_clipped_and_unfinished_jobs_run_to_span_end(self):
        s = span(0, 50, 100)
        self.assertEqual(trace.idle_ms(s, [job(1, 0, 40, 60)]), 40)
        self.assertEqual(trace.idle_ms(s, [job(1, 0, 90, -1)]), 40)

    def test_union_length(self):
        self.assertEqual(trace.union_length([]), 0)
        self.assertEqual(trace.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(trace.union_length([(0, 10)], lo=5, hi=8), 3)


class DigestRounding(unittest.TestCase):
    def test_summation_order_noise_is_not_a_difference(self):
        a = sum([0.1] * 10)
        b = 1.0
        self.assertNotEqual(a, b)
        self.assertEqual(digest.value_digest([a, "x", 3]), digest.value_digest([b, "x", 3]))

    def test_real_differences_remain(self):
        self.assertNotEqual(digest.value_digest([1.0]), digest.value_digest([1.001]))
        self.assertNotEqual(digest.value_digest([1]), digest.value_digest([2]))
        self.assertNotEqual(digest.value_digest(["a", "b"]), digest.value_digest(["b", "a"]))

    def test_rounds_to_single_precision(self):
        self.assertEqual(digest.round_float(1.0 + 1e-12), 1.0)
        self.assertEqual(digest.round_float(0.5), 0.5)
        self.assertEqual(digest.canonical({"b": [2.0000000001], "a": None}),
                         {"a": None, "b": [2.0]})

    def test_frame_digest_is_rows_and_xor(self):
        self.assertEqual(digest.op_digest({"rows": 3, "xor": "ff"}), "f:3:ff")


class Attribution(unittest.TestCase):
    """Jobs and stages belong to the span whose id they carried in the
    local property; phases to the span open when they started."""

    def pass_(self):
        spans = [span(0, 0, 100, name="p05_chain"),
                 span(1, 0, 40, parent=0, module="pipeline"),
                 span(2, 40, 60, parent=0, module="sources"),
                 span(3, 60, 100, parent=0, module="sink"),
                 span(4, 100, 120, name="kcore"),
                 span(5, 100, 115, parent=4, module="operators")]
        jobs = [job(0, 1, 5, 15), job(1, 1, 20, 30), job(2, 3, 65, 95),
                job(3, 5, 101, 110), job(4, -1, 200, 210)]
        stages = [stage(1, tasks=4, shuffle_write_bytes=100),
                  stage(3, tasks=2, shuffle_read_bytes=100, input_bytes=7),
                  stage(5, tasks=1)]
        phases = [{"phase": "analysis", "start": 41, "end": 43},
                  {"phase": "planning", "start": 105, "end": 106}]
        return {"spans": spans, "jobs": jobs, "stages": stages, "phases": phases,
                "failed_tasks": 0}

    def test_by_module(self):
        mods = trace.by_module(self.pass_())
        self.assertEqual(mods["pipeline"]["jobs"], 2)
        self.assertEqual(mods["pipeline"]["idle_ms"], 20)
        self.assertEqual(mods["pipeline"]["shuffle_write_bytes"], 100)
        self.assertEqual(mods["sink"]["jobs"], 1)
        self.assertEqual(mods["sink"]["input_bytes"], 7)
        self.assertEqual(mods["sources"]["plan_ms"], 2)
        self.assertEqual(mods["operators"]["plan_ms"], 1)
        self.assertEqual(mods["operators"]["tasks"], 1)
        self.assertEqual(mods["stats"]["calls"], 0)

    def test_by_op(self):
        ops = {o["name"]: o for o in trace.by_op(self.pass_())}
        self.assertEqual(ops["p05_chain"]["jobs"], 3)
        self.assertEqual(ops["p05_chain"]["jobs_by_module"], {"pipeline": 2, "sink": 1})
        self.assertEqual(ops["p05_chain"]["shuffle_bytes"], 200)
        self.assertEqual(ops["p05_chain"]["idle_ms"], 50)
        self.assertEqual(ops["kcore"]["jobs"], 1)

    def test_unlabelled_jobs_count_only_run_wide(self):
        tr = self.pass_()
        self.assertEqual(sum(m["jobs"] for m in trace.by_module(tr).values()), 4)
        self.assertAlmostEqual(trace.busy_ratio(tr, 200.0), (10 + 10 + 30 + 9 + 10) / 200.0)

    def test_count_diffs_names_each_count(self):
        a = trace.by_module(self.pass_())
        b = trace.by_module(self.pass_())
        self.assertEqual(trace.count_diffs(a, b), [])
        b["sink"]["tasks"] += 1
        self.assertEqual(trace.count_diffs(a, b), ["sink.tasks: 2 != 3"])


if __name__ == "__main__":
    unittest.main()
