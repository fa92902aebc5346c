"""Generator tests: the same seed writes byte-identical inputs, another seed
different ones, and the planted counts in each ledger match what the files
hold when counted independently.

Run from the root of a checkout:  python3 -m unittest discover perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def dir(self, name):
        return os.path.join(self.tmp.name, name)

    def make(self, fn, seed, name, **kw):
        out = self.dir(name)
        ledger = fn(out, seed, **kw)
        return out, ledger

    def test_reviews_deterministic(self):
        kw = dict(n_files=3, rate=100, interval_s=1.0)
        a, _ = self.make(gen.reviews, 7, "a", **kw)
        b, _ = self.make(gen.reviews, 7, "b", **kw)
        c, _ = self.make(gen.reviews, 8, "c", **kw)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_warehouse_deterministic(self):
        try:
            import pyarrow  # noqa: F401
        except ImportError:
            self.skipTest("pyarrow is not installed")
        a, b, c = self.dir("a"), self.dir("b"), self.dir("c")
        gen.warehouse(a, sf=0.001, seed=42)
        gen.warehouse(b, sf=0.001, seed=42)
        gen.warehouse(c, sf=0.001, seed=43)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_review_ledger_matches_files(self):
        out, ledger = self.make(gen.reviews, 5, "r", n_files=4, rate=100,
                                interval_s=2.5)
        names = ["warmup.json"] + ["f%05d.json" % f for f in range(4)]
        rows = [r for n in names for r in read_jsonl(os.path.join(out, n))]
        self.assertEqual(ledger["records"], len(rows))
        sizes = [len(read_jsonl(os.path.join(out, n))) for n in names[1:]]
        self.assertEqual(ledger["sizes"], sizes)
        # staged files reach the stream in name order
        mtimes = [os.path.getmtime(os.path.join(out, n)) for n in names]
        self.assertEqual(mtimes, sorted(mtimes))
        self.assertEqual(len(set(mtimes)), len(mtimes))

        seen, dups = set(), 0
        kinds = Counter()
        rating_sum = 0
        for r in rows:
            key = (r["review_id"], r["date"])
            if key in seen:
                dups += 1
                continue
            seen.add(key)
            words = r["text"].split()
            if "http://" in r["text"]:
                kind = "spam"
            elif len(r["text"]) < 10:
                kind = "short"
            elif "the" not in words:
                kind = "foreign"
            elif not 1 <= r["stars"] <= 5:
                kind = "range"
            else:
                kind = "clean"
                rating_sum += int(r["stars"])
            kinds[kind] += 1
        self.assertEqual(ledger["dup"], dups)
        self.assertEqual(ledger["fresh"], len(seen))
        self.assertEqual(ledger["kinds"], {k: kinds[k] for k in ledger["kinds"]})
        self.assertEqual(ledger["clean"], kinds["clean"])
        self.assertEqual(ledger["rating_sum_clean"], rating_sum)
        want = Counter({"duplicate": dups})
        for k, n in kinds.items():
            for issue in gen.ISSUES_BY_KIND[k]:
                want[issue] += n
        self.assertEqual(ledger["issues"], dict(want))
        # every planted kind shows up, so each check has something to find
        for k in gen.ISSUES_BY_KIND:
            self.assertGreater(kinds[k], 0, k)
        self.assertGreater(dups, 0)

    def test_review_arrivals_keep_the_offered_rate(self):
        _, ledger = self.make(gen.reviews, 3, "r", n_files=10, rate=100,
                              interval_s=2.0)
        times = ledger["arrivals_s"]
        flat = [t for ts in times for t in ts]
        self.assertEqual(flat, sorted(flat))
        for k, ts in enumerate(times):
            self.assertTrue(all(2.0 * k <= t < 2.0 * (k + 1) for t in ts))
        # gaps are 1/rate scaled by uniform(0.5, 1.5): about 100 per second
        self.assertAlmostEqual(len(flat) / 20.0, 100, delta=5)
        gaps = [b - a for a, b in zip(flat, flat[1:])]
        self.assertGreaterEqual(min(gaps), 0.005 - 1e-4)
        self.assertLessEqual(max(gaps), 0.015 + 1e-4)

    def test_review_duplicates_stay_inside_the_watermark(self):
        out, _ = self.make(gen.reviews, 9, "r", n_files=5, rate=100,
                           interval_s=2.0)
        names = ["warmup.json"] + ["f%05d.json" % f for f in range(5)]
        latest = ""
        for n in names:
            for r in read_jsonl(os.path.join(out, n)):
                latest = max(latest, r["date"])
                # a duplicate re-sends a review of this file or the one
                # before: minutes of event time behind the newest review
                self.assertLess(gen.datetime.datetime.fromisoformat(latest) -
                                gen.datetime.datetime.fromisoformat(r["date"]),
                                gen.datetime.timedelta(hours=1))


if __name__ == "__main__":
    unittest.main()
