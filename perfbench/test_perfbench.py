"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etldata  # noqa: E402
import run  # noqa: E402
import tracediff  # noqa: E402


class EtlDataTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(etldata.generate(7), etldata.generate(7))

    def test_other_seed_other_pages_and_counts(self):
        files_a, exp_a = etldata.generate(7)
        files_b, exp_b = etldata.generate(8)
        self.assertNotEqual(files_a["pages/0000.json"], files_b["pages/0000.json"])
        self.assertNotEqual(exp_a["completion"], exp_b["completion"])
        self.assertNotEqual(exp_a["views"], exp_b["views"])

    def test_planted_defects_and_short_last_page(self):
        files, exp = etldata.generate(3)
        n = etldata.N_TRANSACTIONS
        self.assertEqual(exp["raw_transactions"], n)
        self.assertEqual(exp["pages"], -(-n // etldata.PAGE_ROWS))
        last = files["pages/%04d.json" % (exp["pages"] - 1)].decode()
        self.assertEqual(last.count('"transaction_id"'), n % etldata.PAGE_ROWS)
        self.assertAlmostEqual(exp["duplicates"] / n, etldata.DUP_FRAC, delta=0.01)
        self.assertAlmostEqual(exp["dirty_amounts"] / n, etldata.DIRTY_FRAC, delta=0.01)
        # every duplicate is dropped by the first-wins dedup
        self.assertEqual(exp["completion"][2], n - exp["duplicates"])

    def test_views_digest_matches_a_hand_count(self):
        # one client with one transaction: one count row, no month with
        # more than two transactions
        files, exp = etldata.generate(1, n_clients=1, n_accounts=1, n_tx=1)
        self.assertEqual(exp["completion"], [1, 1, 1])
        self.assertEqual(exp["views"]["client_transaction_counts"], etldata.digest(["c000000|1"]))
        self.assertEqual(exp["views"]["high_transaction_accounts"], etldata.digest([]))


class PercentileTest(unittest.TestCase):
    def test_p90_for_157_samples(self):
        self.assertEqual(run.tail_percentile(157), 90)

    def test_rule_boundaries(self):
        self.assertEqual(run.tail_percentile(19), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(199), 90)
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 158))
        self.assertEqual(run.percentile(xs, 90), 142)
        self.assertEqual(run.percentile(xs, 50), 79)


class CallMedianTest(unittest.TestCase):
    def test_median_of_per_key_medians(self):
        calls = [{"name": k, "s": s} for k, s in
                 [("a", 1), ("a", 9), ("a", 2), ("b", 5), ("b", 4), ("b", 6)]]
        self.assertEqual(run.call_p50(calls), (2 + 5) / 2)


def span(i, kind, parent, start, end, name=None):
    return {"id": i, "name": name or "%s %d" % (kind, i), "kind": kind, "parent": parent,
            "start": start, "end": end, "workload": "w", "iteration": 0}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, "pass", -1, 0, 20), span(1, "call", 0, 0, 10),
                 span(2, "job", 1, 1, 4), span(3, "job", 1, 3, 6)]
        st = tracediff.self_times(spans)
        self.assertEqual(st[1], 10 - 5)  # jobs cover [1, 6]
        self.assertEqual(st[0], 20 - 10)
        self.assertEqual(st[2], 3)

    def test_nested_spark_spans(self):
        # a job inside a SQL execution inside a micro-batch
        spans = [span(0, "call", -1, 0, 10), span(1, "batch", 0, 1, 9),
                 span(2, "sql", 0, 2, 8), span(3, "job", 0, 3, 5)]
        st = tracediff.self_times(spans)
        self.assertEqual((st[0], st[1], st[2], st[3]), (2, 2, 4, 2))

    def test_children_clipped_to_parent(self):
        self.assertEqual(tracediff.union_length([(0, 5), (4, 12)], 2, 10), 8)
        self.assertEqual(tracediff.union_length([]), 0)


class KeyTableTest(unittest.TestCase):
    def test_every_key_has_a_workload_module_and_count(self):
        with open(os.path.join(run.HERE, "keys.tsv")) as f:
            rows = [l.rstrip("\n").split("\t") for l in f if not l.startswith(("#", "key\t"))]
        self.assertEqual(len({r[0] for r in rows}), len(rows))
        for key, workload, module, in_pass, count in rows:
            self.assertIn(workload, ("index_lifecycle", "serve_mix"), key)
            self.assertTrue(module, key)
            self.assertIn(in_pass, ("0", "1"), key)
            self.assertGreaterEqual(int(count), 0, key)
        for w in ("index_lifecycle", "serve_mix"):
            self.assertTrue(any(r[1] == w and r[3] == "1" for r in rows), w)

    def test_operator_metrics_only_for_modules_a_pass_calls(self):
        in_pass = set(tracediff.load_modules(run.HERE, in_pass_only=True).values())
        reported = {n.split(".")[1] for n, _ in run.PER_LAYER if n.startswith("operators.")}
        self.assertEqual(reported, in_pass)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_harness(self):
        with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
