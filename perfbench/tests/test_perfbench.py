"""Self-tests of the benchmark: generators, metric names, span arithmetic
and failure accounting. They need no JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen_crossref  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "run": 1,
            "start": start, "end": end}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_pages(self):
        with tempfile.TemporaryDirectory() as d:
            idx = gen_crossref.batch_indices(7, 1200)
            t1 = gen_crossref.write_batch(os.path.join(d, "a"), 7, idx)
            t2 = gen_crossref.write_batch(os.path.join(d, "b"), 7, idx)
            gen_crossref.write_batch(os.path.join(d, "c"), 8,
                                     gen_crossref.batch_indices(8, 1200))
            names = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(names), 3)  # 1212 works, 500 per page
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "b"), names,
                shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertFalse(filecmp.cmp(os.path.join(d, "a", names[0]),
                                         os.path.join(d, "c", names[0]),
                                         shallow=False))
            self.assertEqual(t1, t2)

    def test_page_shape(self):
        with tempfile.TemporaryDirectory() as d:
            gen_crossref.write_batch(d, 3, gen_crossref.batch_indices(3, 600))
            with open(os.path.join(d, "page-00000.jsonl"),
                      encoding="utf-8") as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), 1)
            items = json.loads(lines[0])["message"]["items"]
            self.assertEqual(len(items), gen_crossref.PAGE_SIZE)
            authors = [a for w in items for a in w["author"]]
            self.assertTrue(any(len(w["author"]) > 1 for w in items))
            self.assertTrue(any("ORCID" in a for a in authors))
            self.assertTrue(any("ORCID" not in a for a in authors))
            affs = [x["name"] for a in authors for x in a["affiliation"]]
            self.assertTrue(any("&eacute;" in x for x in affs))
            self.assertTrue(any("é" in x for x in affs))
            for k in gen_crossref.DATE_KEYS:
                self.assertTrue(any(k in w for w in items), k)
            self.assertTrue(any(w["subject"] for w in items))

    def test_truth_follows_the_reference_rules(self):
        self.assertEqual(gen_crossref.norm_key(
            " Universidad  Polit&eacute;cnica SALESIANA "),
            gen_crossref.UPS_TARGET)
        self.assertEqual(gen_crossref.std_doi(" https://doi.org/10.1/AB "),
                         "10.1/ab")
        self.assertEqual(gen_crossref.first_year(
            {"published-online": {"date-parts": [[3000]]},
             "issued": {"date-parts": [[2019, 2]]}}), 2019)
        work = {"author": [
            {"affiliation": [{"name": "Universidad Politécnica Salesiana"}]},
            {"given": "Ana", "family": "Peña",
             "affiliation": [{"name": "Salesian Polytechnic University"}]}]}
        # a nameless author does not count, nor does the English spelling
        self.assertFalse(gen_crossref.gated(work))
        work["author"][1]["affiliation"].append(
            {"name": "UNIVERSIDAD POLITÉCNICA SALESIANA, Quito"})
        self.assertTrue(gen_crossref.gated(work))

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write_tables(os.path.join(d, "a"), 5)
            gen_tables.write_tables(os.path.join(d, "b"), 5)
            names = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(names), 10)
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "b"), names,
                shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


class NamesTest(unittest.TestCase):
    def test_names_follow_the_grammar(self):
        spec = _spec()
        names = [w["name"] for w in spec["workloads"]]
        for group in ("end_to_end", "per_layer"):
            names += [m["name"] for m in spec[group]]
        for n in names:
            self.assertRegex(n, metrics.NAME_RE, n)
        self.assertEqual(len(names), len(set(names)))
        self.assertIsNone(metrics.NAME_RE.match("spark jobs"))
        self.assertIsNone(metrics.NAME_RE.match(".hidden"))

    def test_reported_metrics_are_the_declared_ones(self):
        spec = _spec()
        traced = {"spans": [_span(0, -1, "run", 0.0, 2.0)],
                  "engine": {}, "counters": {}, "cores": 4,
                  "traced_wall_s": 2.0, "untraced_wall_s": 1.5}
        self.assertEqual(sorted(metrics.per_layer(traced)),
                         sorted(m["name"] for m in spec["per_layer"]))
        untraced = {"setup_s": 1.0, "peak_rss_mb": 10.0, "ops": [
            {"pass": 0, "traced": False, "kind": "query", "name": "q02_x",
             "s": 0.5, "ok": True}]}
        self.assertEqual(sorted(metrics.end_to_end(untraced, 3.0)),
                         sorted(m["name"] for m in spec["end_to_end"]))
        for m in spec["per_layer"]:
            self.assertIn(m["name"], metrics.MOVES, m["name"])

    def test_latency_pools_passes_and_pass_sums_medians(self):
        ops = [{"pass": p, "traced": False, "kind": "query", "name": n,
                "s": s, "ok": True}
               for n, times in (("q02_a", (1.0, 1.0, 3.0)),
                                ("q06_b", (3.0, 3.0, 3.0)))
               for p, s in enumerate(times)]
        m = metrics.end_to_end({"setup_s": 1.0, "peak_rss_mb": 10.0,
                                "ops": ops}, 30.0)
        # per-query medians 1 and 3 would give 2; the pooled median is 3
        self.assertEqual(m["latency_p50_s"], (3.0, "s"))
        self.assertEqual(m["pass_s"], (4.0, "s"))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_of_a_hand_built_tree(self):
        spans = [
            _span(0, -1, "run", 0.0, 10.0),
            _span(1, 0, "stage.ingest", 1.0, 6.0),
            _span(2, 1, "ingest.works", 1.5, 3.0),
            _span(3, 1, "entities.resolve", 3.0, 5.0),
            _span(4, 3, "warehouse.read", 4.0, 4.5),
            _span(5, 0, "stage.catalog", 6.0, 9.0),
            _span(6, 5, "catalog.readCsv", 6.5, 7.0),
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 3.0)
        self.assertAlmostEqual(st[1], 5.0 - 1.5 - 2.0)
        self.assertAlmostEqual(st[3], 2.0 - 0.5)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 2.5)
        self.assertAlmostEqual(sum(st.values()), 10.0)
        layers = metrics.layer_self_times(spans)
        self.assertAlmostEqual(layers["stage"], 1.5 + 2.5)
        self.assertAlmostEqual(layers["ingest"], 1.5)
        self.assertEqual(metrics.layer("queries.core.q02"), "queries.core")

    def test_traced_wall_is_accounted(self):
        spans = [_span(0, -1, "run", 0.0, 4.0),
                 _span(1, 0, "stage.ingest", 0.5, 3.0),
                 _span(2, 1, "ingest.works", 1.0, 2.0),
                 _span(3, -1, "norm.project", 5.0, 6.0)]
        m = metrics.per_layer({"spans": spans, "engine": {}, "counters": {},
                               "cores": 4, "traced_wall_s": 4.0,
                               "untraced_wall_s": 3.0})
        self.assertAlmostEqual(m["trace.unaccounted_s"][0], 0.0)
        self.assertAlmostEqual(m["trace.gap_s"][0], 1.5)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 1.0)
        self.assertAlmostEqual(m["stage.ingest_s"][0], 2.5)
        self.assertAlmostEqual(m["norm.busy_s"][0], 1.0)


class FailureTest(unittest.TestCase):
    STATE = {"pass": 0, "step": "batch1", "vista_rows": 90,
             "per_year": {"2020": 90}, "oaa_dois": 90,
             "vista_with_authors": 90, "author_ids_changed": 0,
             "affiliation_ids_changed": 0, "prev_facts": None,
             "facts": {"obras": 90, "obras_clean": 90}}

    def result(self):
        rerun = dict(self.STATE, step="rerun",
                     prev_facts=self.STATE["facts"])
        return {"setup_s": 5.0, "peak_rss_mb": 100.0,
                "observed": [self.STATE, rerun],
                "ops": [{"pass": 0, "traced": False, "kind": "refresh",
                         "name": "batch1", "s": 2.0, "ok": True},
                        {"pass": 0, "traced": False, "kind": "rerun",
                         "name": "ingest", "s": 1.0, "ok": True}]}

    def test_right_counts_pass(self):
        truth = {"batch1": {"gated": 90, "per_year": {"2020": 90}}}
        self.assertEqual(metrics.failures(self.result(), truth), (2, 0, []))

    def test_wrong_expected_count_fails_and_is_never_fast(self):
        truth = {"batch1": {"gated": 91, "per_year": {"2020": 90}}}
        attempted, failed, reasons = metrics.failures(self.result(), truth)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertGreater(failed / attempted, 0)
        self.assertIn("gated 91", reasons[0])
        wall = 60.0
        m = metrics.never_fast(metrics.end_to_end(self.result(), wall), wall)
        for name, (value, unit) in m.items():
            if unit == "s":
                self.assertEqual(value, wall, name)

    def test_failed_base_check_fails_every_operation(self):
        r = self.result()
        r["observed"].append(dict(self.STATE, step="base", **{"pass": -1}))
        truth = {"batch1": {"gated": 90, "per_year": {"2020": 90}},
                 "base": {"gated": 80, "per_year": {"2020": 90}}}
        self.assertEqual(metrics.failures(r, truth)[:2], (2, 2))

    def test_unchecked_operation_fails(self):
        r = self.result()
        r["observed"] = r["observed"][:1]
        truth = {"batch1": {"gated": 90, "per_year": {"2020": 90}}}
        attempted, failed, reasons = metrics.failures(r, truth)
        self.assertEqual(failed, 1)
        self.assertIn("not checked", reasons[0])

    def test_rerun_that_writes_rows_fails(self):
        r = self.result()
        r["observed"][1] = dict(r["observed"][1],
                                facts={"obras": 91, "obras_clean": 90})
        truth = {"batch1": {"gated": 90, "per_year": {"2020": 90}}}
        attempted, failed, reasons = metrics.failures(r, truth)
        self.assertEqual(failed, 1)
        self.assertIn("re-run wrote rows", reasons[0])

    def test_oracle_mismatch_fails_the_query(self):
        r = {"ops": [{"pass": 0, "traced": False, "kind": "query",
                      "name": "q02_x", "s": 0.1, "ok": True},
                     {"pass": 0, "traced": False, "kind": "query",
                      "name": "q06_y", "s": 0.1, "ok": True}]}
        self.assertEqual(metrics.failures(r, {}, ["q06"])[:2], (2, 1))


if __name__ == "__main__":
    unittest.main()
