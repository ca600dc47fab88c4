"""Self-tests of tools/claim_pairs.py on canned benchmark output.

    python3 -m unittest discover -s tools/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import claim_pairs  # noqa: E402


def line(pass_s, rss, failed=0):
    return {"correct": failed == 0, "attempted": 3, "failed": failed,
            "metrics": {"pass_s": {"value": pass_s, "unit": "s"},
                        "peak_rss_mb": {"value": rss, "unit": "MB"}}}


BETTER = {"pass_s": "lower", "peak_rss_mb": "lower"}


class ClaimPairsTest(unittest.TestCase):

    def test_sides_alternate_which_runs_first(self):
        self.assertEqual(claim_pairs.order(0), ("parent", "change"))
        self.assertEqual(claim_pairs.order(1), ("change", "parent"))
        self.assertEqual(claim_pairs.order(2), ("parent", "change"))

    def test_contract_line_is_the_last_json_object_with_metrics(self):
        out = "\n".join([
            "[perfbench] building",
            json.dumps(line(9.0, 100)),
            "not json {",
            json.dumps({"other": 1}),
            json.dumps(line(5.5, 2300)),
            "trailing log text"])
        self.assertEqual(claim_pairs.contract_line(out), line(5.5, 2300))
        self.assertIsNone(claim_pairs.contract_line("no result\n"))

    def test_ten_pairs_with_one_loss_make_the_claim(self):
        parent = [5.4, 5.5, 5.6, 5.5, 5.3, 5.7, 5.5, 5.6, 5.4, 5.5]
        change = [4.2, 4.1, 4.3, 4.2, 4.0, 4.4, 5.9, 4.1, 4.2, 4.3]
        recs = [{"seed": i, "parent": line(p, 2300), "change": line(c, 2290)}
                for i, (p, c) in enumerate(zip(parent, change))]
        s = claim_pairs.summarize(recs, BETTER)["pass_s"]
        self.assertEqual(s["wins"], 9)
        self.assertEqual(s["pairs"], 10)
        self.assertAlmostEqual(s["parent"][1], 5.5)
        self.assertAlmostEqual(s["change"][1], 4.2)
        self.assertAlmostEqual(s["gap"], -1.3)
        self.assertAlmostEqual(s["parent_iqr"], 5.575 - 5.425)
        self.assertTrue(s["claim"])
        # RSS moved by less than the parent's spread: no claim
        self.assertFalse(claim_pairs.summarize(
            [dict(r, change=line(c, 2300 + (i % 3) * 10))
             for i, (r, c) in enumerate(zip(recs, change))],
            BETTER)["peak_rss_mb"]["claim"])

    def test_eight_wins_or_a_gap_inside_the_iqr_is_no_claim(self):
        parent = [5.0, 6.0, 5.0, 6.0, 5.0, 6.0, 5.0, 6.0, 5.0, 6.0]
        change = [4.9, 5.9, 4.9, 5.9, 4.9, 5.9, 4.9, 5.9, 4.9, 5.9]
        recs = [{"seed": i, "parent": line(p, 1), "change": line(c, 1)}
                for i, (p, c) in enumerate(zip(parent, change))]
        s = claim_pairs.summarize(recs, BETTER)["pass_s"]
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["claim"], "a 0.1 s gap inside a 1 s IQR")
        fast = [3.0] * 8 + [9.0, 9.0]
        recs = [{"seed": i, "parent": line(5.0, 1), "change": line(c, 1)}
                for i, c in enumerate(fast)]
        s = claim_pairs.summarize(recs, BETTER)["pass_s"]
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["claim"])

    def test_a_failed_or_missing_run_is_a_loss(self):
        recs = [{"seed": i, "parent": line(5.0 + i * 0.01, 1),
                 "change": line(4.0, 1)} for i in range(10)]
        recs[3]["change"] = line(1.0, 1, failed=1)
        recs[7]["parent"] = None
        s = claim_pairs.summarize(recs, BETTER)["pass_s"]
        self.assertEqual(s["wins"], 8)
        self.assertEqual(s["pairs"], 10)
        self.assertFalse(s["claim"])

    def test_higher_is_better_metrics_win_upwards(self):
        recs = [{"seed": i, "parent": line(5.0 + i * 0.01, 1),
                 "change": line(6.0, 1)} for i in range(10)]
        s = claim_pairs.summarize(recs, {"pass_s": "higher"})["pass_s"]
        self.assertEqual(s["wins"], 10)
        self.assertTrue(s["claim"])


if __name__ == "__main__":
    unittest.main()
