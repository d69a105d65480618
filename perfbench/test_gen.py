"""Tests of the seeded statement generator: ``python3 perfbench/test_gen.py``.

The generator declares what it planted (``manifest``); these tests recount
it from the CSV bytes alone, and check that a seed fixes the bytes.
"""
import collections
import csv
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SIZES = dict(users=40, history_months=6, history_rows=10, files=120, file_rows=20)


def rows(blob):
    r = csv.reader(io.StringIO(blob.decode("utf-8")))
    assert next(r) == gen.HEADER
    return [dict(zip(gen.HEADER, x)) for x in r]


def malformed(row):
    try:
        float(row["transactions.amount"])
        y, m, d = (int(x) for x in row["transactions.date"].split("-"))
        ok_date = 1 <= m <= 12 and 1 <= d <= 31 and y > 2000
    except ValueError:
        return True
    loc = row["transactions.location"]
    return not ok_date or not (len(loc) > 3 and loc[:2].isalpha() and loc[:2].isupper()
                               and loc[2] == "-")


class StatementGeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.hist, cls.drops, cls.manifest = gen.statement_inputs(7, **SIZES)

    def test_same_seed_same_bytes(self):
        hist, drops, manifest = gen.statement_inputs(7, **SIZES)
        self.assertEqual(hist, self.hist)
        self.assertEqual(drops, self.drops)
        self.assertEqual(manifest, self.manifest)

    def test_other_seed_other_bytes(self):
        hist, drops, _ = gen.statement_inputs(8, **SIZES)
        self.assertNotEqual(hist, self.hist)
        self.assertNotEqual(drops, self.drops)

    def test_home_country_is_the_history_mode(self):
        by_user = collections.defaultdict(collections.Counter)
        for r in rows(self.hist):
            by_user[r["UserId"]][r["transactions.location"][:2]] += 1
        for user, counts in by_user.items():
            self.assertEqual(counts.most_common(1)[0][0], self.manifest["home_country"][user])
        self.assertEqual(sum(sum(c.values()) for c in by_user.values()),
                         self.manifest["history_rows"])

    def test_planted_counts_match_the_manifest(self):
        homes = self.manifest["home_country"]
        seen = set()
        for blob, declared in zip(self.drops, self.manifest["files"]):
            rs = rows(blob)
            bad = [r for r in rs if malformed(r)]
            good = [r for r in rs if not malformed(r)]
            foreign = [r for r in good
                       if r["transactions.location"][:2] != homes[r["UserId"]]]
            self.assertEqual(len(rs), declared["rows"])
            self.assertEqual(len(bad), declared["malformed"])
            self.assertEqual(len(good), declared["valid"])
            self.assertEqual(len(foreign), declared["foreign_valid"])
            self.assertEqual({(r["UserId"], r["YearMonth"]) for r in rs},
                             {(declared["user"], declared["yearMonth"])})
            seen.add((declared["user"], declared["yearMonth"]))
        self.assertEqual(len(seen), self.manifest["user_months"])
        self.assertEqual(len(seen), len(self.drops))  # one new user-month per file

    def test_recurring_vendors_bill_every_month(self):
        subs = self.manifest["recurring_vendors"]
        months = collections.defaultdict(set)
        for r in rows(self.hist) + [r for b in self.drops for r in rows(b)]:
            if r["transactions.recurring"] == "true":
                self.assertIn(r["transactions.vendor"], subs[r["UserId"]])
                months[(r["UserId"], r["transactions.vendor"])].add(r["YearMonth"])
        for user in subs:
            for vendor in subs[user]:
                self.assertGreaterEqual(len(months[(user, vendor)]), SIZES["history_months"])

    def test_planted_shares_are_near_the_targets(self):
        t = self.manifest["totals"]
        self.assertTrue(0.02 < t["foreign_valid"] / t["valid"] < 0.09, t)
        self.assertTrue(0.002 < t["malformed"] / t["rows"] < 0.03, t)


if __name__ == "__main__":
    unittest.main()
