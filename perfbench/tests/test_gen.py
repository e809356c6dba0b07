"""Tests of the seeded generators: the same seed gives identical inputs
and identical expected counts; another seed gives other inputs.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import csv
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class SeededTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def path(self, *p):
        return os.path.join(self.tmp.name, *p)

    def test_tables_repeat_for_a_seed(self):
        gen.write_tables(5, self.path("a"))
        gen.write_tables(5, self.path("b"))
        gen.write_tables(6, self.path("c"))
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))

    def test_cdc_snapshots_and_counts_repeat_for_a_seed(self):
        a = gen.write_cdc(5, self.path("a"), 3, n_orders=400, n_customers=50)
        b = gen.write_cdc(5, self.path("b"), 3, n_orders=400, n_customers=50)
        c = gen.write_cdc(6, self.path("c"), 3, n_orders=400, n_customers=50)
        self.assertEqual(a, b)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        # another seed changes the rows; the counts follow from the fixed
        # per-cycle change volumes
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        self.assertEqual([x["history"] for x in a], [x["history"] for x in c])

    def test_cdc_counts_follow_the_snapshots(self):
        exp = gen.write_cdc(9, self.path("a"), 2, n_orders=400, n_customers=50)
        with open(self.path("a", "cycle_001", "orders.csv")) as f:
            rows = list(csv.DictReader(f))
        first = exp[0]
        self.assertEqual(first["rows_in"], len(rows))
        keys = [r["o_orderkey"] for r in rows]
        null_pk = keys.count("nan")
        dups = len(keys) - null_pk - len(set(keys) - {"nan"})
        self.assertEqual(first["violations"]["primary_key"], null_pk + dups)
        dangling = sum(1 for r in rows if r["o_custkey"] not in ("nan",) and
                       int(r["o_custkey"]) >= 50)
        null_fk = len({r["o_orderkey"] for r in rows if r["o_custkey"] == "nan"})
        self.assertEqual(first["violations"]["foreign_key"], dangling + null_fk)
        self.assertEqual(first["rows_clean"], first["live"])
        self.assertEqual(first["live"], len(set(keys) - {"nan"}) - dangling)
        # cumulative counts only grow
        self.assertGreater(exp[1]["history"], exp[0]["history"])
        self.assertGreater(exp[1]["tombstoned"], exp[0]["tombstoned"])

    def test_request_mix_repeats_and_is_balanced(self):
        a = gen.serve_requests(5, 40)
        self.assertEqual(a, gen.serve_requests(5, 40))
        self.assertNotEqual(a, gen.serve_requests(6, 40))
        for i in range(0, 40, len(gen.ROUTES)):
            block = {p.lstrip("/").split("?")[0] for p in a[i:i + 4]}
            self.assertEqual(block, set(gen.ROUTES))


if __name__ == "__main__":
    unittest.main()
