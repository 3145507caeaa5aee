"""Self-tests of the input generator: the figures measured on the test
corpus (pinned in gen.py) hold for generated data, and a seed fixes the data.

    python3 -m unittest discover -s flowbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import gen

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


class GeneratedData(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(WORK, exist_ok=True)
        cls.dirs = [tempfile.mkdtemp(prefix="test-gen-", dir=WORK) for _ in range(2)]
        for d in cls.dirs:
            gen.generate(d, 7, 0.02)
        cls.s = gen.stats(cls.dirs[0])

    @classmethod
    def tearDownClass(cls):
        for d in cls.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def test_rows_per_order_match_the_corpus(self):
        s = self.s
        self.assertEqual(s["rows_per_order.lineitem"], 4.0)
        self.assertAlmostEqual(s["rows_per_order.customer"], 0.1, places=3)
        self.assertAlmostEqual(s["rows_per_order.documents"], 0.0333, places=3)
        self.assertAlmostEqual(s["events.users_per_customer"], 0.1, places=2)

    def test_documents_match_the_corpus(self):
        s = self.s
        self.assertEqual(s["documents.vocabulary"], 31)
        self.assertEqual((s["documents.words_min"], s["documents.words_max"]), (10, 99))
        self.assertEqual(s["documents.near_dup_frac"], 0.05)
        self.assertGreater(s["documents.near_dup_whole_text_frac"], 0.85)
        self.assertLess(s["documents.exact_dup_frac"], 0.01)
        self.assertAlmostEqual(s["documents.lang.en"], 0.4, delta=0.04)

    def test_lineitem_and_orders_match_the_corpus(self):
        s = self.s
        self.assertAlmostEqual(s["lineitem.dup_pk_frac"], 0.239, delta=0.03)
        self.assertAlmostEqual(s["lineitem.extprice_qty_corr"], 0.0, delta=0.05)
        self.assertEqual(s["orders.date_min"], "1995-01-01")
        self.assertEqual(s["part.name_distinct"], 64)

    def test_same_seed_same_bytes(self):
        for t in ("lineitem", "documents", "embeddings"):
            with open(os.path.join(self.dirs[0], f"{t}.parquet"), "rb") as a, \
                    open(os.path.join(self.dirs[1], f"{t}.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read(), t)


if __name__ == "__main__":
    unittest.main()
