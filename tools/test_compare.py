"""Self-tests of compare.py's query selection, on a one-row corpus it builds
itself. Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import json, os, subprocess, sys, tempfile, unittest

import pyarrow as pa, pyarrow.parquet as pq

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compare.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class CompareSelectionTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        for t in TABLES:
            pq.write_table(pa.table({"k": [1]}), os.path.join(self.sf, f"{t}.parquet"))
        oracle = {"q01_one": "select 1::BIGINT as x", "q02_two": "select 2::BIGINT as x"}
        for name, value in (("q01_one", 1), ("q02_two", 2)):
            os.makedirs(os.path.join(self.out, name))
            pq.write_table(pa.table({"x": [value]}),
                           os.path.join(self.out, name, "part-0.parquet"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)

    def tearDown(self):
        self.tmp.cleanup()

    def run_compare(self, *filters):
        return subprocess.run([sys.executable, SCRIPT, self.sf, self.out, *filters],
                              capture_output=True, text=True)

    def test_dash_means_no_filter(self):
        for args in ((), ("-",), ("-", "-")):
            r = self.run_compare(*args)
            self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
            self.assertIn("OK q01_one", r.stdout)
            self.assertIn("2/2 oracle-checked queries OK", r.stdout)

    def test_prefix_and_skip_filters(self):
        r = self.run_compare("q01_")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("1/1 oracle-checked queries OK", r.stdout)
        r = self.run_compare("-", "q01_")
        self.assertIn("OK q02_two", r.stdout)
        self.assertNotIn("q01_one", r.stdout)

    def test_empty_selection_fails(self):
        for args in (("q99_",), ("-", "q0"), ("q01_", "q01_")):
            r = self.run_compare(*args)
            self.assertNotEqual(r.returncode, 0, r.stdout)
            self.assertIn("no oracle query selected", r.stderr)
            self.assertNotIn("0/0", r.stdout)


if __name__ == "__main__":
    unittest.main()
