import unittest

from bench import spans as sp


def span(i, start, end, parent=None, kind="x"):
    return sp.Span(i, kind, f"s{i}", start, end, parent)


class CoveredTest(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(sp.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)

    def test_clipped_to_window(self):
        self.assertEqual(sp.covered([(-5, 2), (9, 20)], 0, 10), 3)

    def test_outside_and_empty(self):
        self.assertEqual(sp.covered([(11, 12)], 0, 10), 0)
        self.assertEqual(sp.covered([], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_children(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 30, 0), span(2, 20, 50, 0), span(3, 90, 120, 0)]
        self.assertEqual(sp.self_time(parent, kids), 100 - 40 - 10)

    def test_no_children(self):
        self.assertEqual(sp.self_time(span(0, 5, 9), []), 4)


def pass_record():
    return {
        "index": 1, "start_ms": 0, "end_ms": 100,
        "queries": [
            {"name": "a", "start_ms": 0, "build_end_ms": 10, "end_ms": 50, "error": None},
            {"name": "b", "start_ms": 60, "build_end_ms": 100, "end_ms": 100, "error": "boom"},
        ],
        "trace": {
            "jobs": [
                {"id": 0, "start_ms": 2, "end_ms": 8, "stage_ids": [0], "ok": True},
                {"id": 1, "start_ms": 20, "end_ms": 40, "stage_ids": [1, 2], "ok": True},
                {"id": 2, "start_ms": 70, "end_ms": 80, "stage_ids": [3], "ok": False},
            ],
            "stages": [
                {"id": 1, "attempt": 0, "submit_ms": 21, "end_ms": 39},
                {"id": 3, "attempt": 0, "submit_ms": None, "end_ms": None},
            ],
            "actions": [],
            "batches": [{"batch_id": 0, "start_ms": 62, "duration_ms": {"triggerExecution": 5}}],
        },
    }


class TreeTest(unittest.TestCase):
    def test_jobs_attach_to_the_running_phase(self):
        tree = sp.build_tree(pass_record())
        by_name = {s.name: s for s in tree}
        self.assertEqual(tree[by_name["job0"].parent].kind, "build")
        self.assertEqual(tree[by_name["job1"].parent].kind, "action")
        self.assertEqual(tree[by_name["stage1.0"].parent].name, "job1")
        self.assertNotIn("stage3.0", by_name)  # never ran
        self.assertEqual(tree[by_name["batch0"].parent].name, "b")

    def test_driver_gap_is_query_time_without_jobs(self):
        tree = sp.build_tree(pass_record())
        a, b = [s for s in tree if s.kind == "query"]
        self.assertEqual(sp.driver_gap(tree, a), 50 - 6 - 20)
        self.assertEqual(sp.driver_gap(tree, b), 40 - 10)


if __name__ == "__main__":
    unittest.main()
