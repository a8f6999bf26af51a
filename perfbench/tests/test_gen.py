"""Generator determinism: python3 -m unittest discover -s perfbench/tests"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402

SF = 0.001


def digest(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_landing_same_seed_same_bytes(self):
        a = gen.landing(self.path("a"), SF, 5)
        b = gen.landing(self.path("b"), SF, 5)
        self.assertEqual(a, b)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))

    def test_landing_seed_changes_order_not_content(self):
        a = gen.landing(self.path("a"), SF, 5)
        b = gen.landing(self.path("b"), SF, 6)
        self.assertNotEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertEqual(a["fact_rows"], b["fact_rows"])
        self.assertEqual(a["good_files"], b["good_files"])
        self.assertEqual(len(a["good_files"]), 80)  # one file per month
        month = "sales_1995_03.csv"

        def lines(root):
            with open(os.path.join(root, "landing", month)) as f:
                return f.read().splitlines()
        la, lb = lines(self.path("a")), lines(self.path("b"))
        self.assertNotEqual(la, lb)
        if month not in (a["extra_file"], b["extra_file"]):
            self.assertEqual(sorted(la), sorted(lb))

    def test_landing_crafted_files(self):
        m = gen.landing(self.path("a"), SF, 9)
        land = os.path.join(self.path("a"), "landing")
        with open(os.path.join(land, m["crafted_file"])) as f:
            header = f.readline().strip().split(",")
        self.assertNotIn("store_id", header)
        self.assertEqual(set(gen.FACT_COLUMNS) - set(header), {"store_id"})
        with open(os.path.join(land, m["extra_file"])) as f:
            header = f.readline().strip().split(",")
        self.assertEqual(header, gen.FACT_COLUMNS + ["promo_code", "channel"])

    def test_star_same_seed_same_bytes(self):
        a = gen.star(self.path("a"), SF, 3)
        b = gen.star(self.path("b"), SF, 3)
        self.assertEqual(a, b)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        c = gen.star(self.path("c"), SF, 4)
        self.assertEqual(a["rows"], c["rows"])
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))


if __name__ == "__main__":
    unittest.main()
