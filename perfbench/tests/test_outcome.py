import unittest

from bench import cli, oracle


def q(name, total, error=None):
    return {"name": name, "total_s": total, "error": error}


PASSES = [
    {"cold": True, "traced": False, "queries": [q("a", 3.0), q("b", 2.0), q("c", 1.0)]},
    {"cold": False, "traced": False, "queries": [q("b", 1.5), q("a", 2.0), q("c", 0.5, "boom")]},
    {"cold": False, "traced": False, "queries": [q("c", 0.7), q("a", 2.2), q("b", 1.1)]},
]


class OutcomeTest(unittest.TestCase):
    def test_throws_and_mismatches_fail_every_run_of_the_query(self):
        verdicts = {"a": (True, ""), "b": (False, "rows spark=3 oracle=4"), "c": (True, "")}
        attempted, failed, bad = cli.outcome(PASSES, verdicts)
        self.assertEqual(attempted, 9)
        self.assertEqual(failed, 6)  # every run of b (mismatch) and c (threw once)
        self.assertEqual(sorted(bad), ["b", "c"])
        self.assertTrue(bad["c"].startswith("threw"))
        self.assertTrue(bad["b"].startswith("oracle"))

    def test_failed_queries_are_never_timed(self):
        result = {"passes": PASSES, "setup": {"setup_s": 9.0}, "heap_peak_bytes": 2 ** 30}
        m, n = cli.end_to_end(result, {"a"})
        self.assertEqual(n, 2)
        self.assertEqual(m["cold_wall_s"], 3.0)
        self.assertEqual(m["wall_s"], 2.1)
        self.assertEqual(m["heap_peak_mb"], 1024)

    def test_clean_run(self):
        verdicts = {"a": (True, ""), "b": (True, "")}
        passes = [{"queries": [q("a", 1.0), q("b", 1.0)]}]
        self.assertEqual(cli.outcome(passes, verdicts), (2, 0, {}))


class OracleParseTest(unittest.TestCase):
    def test_report_lines(self):
        out = ("PASS q_a (10 rows)\n"
               "FAIL q_b: rows spark=1 oracle=2\n"
               "   spark: (1,)\n"
               "CLOSE q_c: 1/5 mismatched rows; first:\n"
               "== 1 pass, 2 fail\n")
        v = oracle.parse(out)
        self.assertEqual(v["q_a"], (True, "(10 rows)"))
        self.assertFalse(v["q_b"][0])
        self.assertFalse(v["q_c"][0])  # float-close still fails the gate
        self.assertEqual(len(v), 3)


if __name__ == "__main__":
    unittest.main()
