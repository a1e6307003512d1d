"""check_oracle.py against a hand-made dump over a tiny hand-made sf dir:
a query whose result matches its oracle SQL passes, and a `--only` name
the dump's oracle_sql.json does not declare fails the run and is named,
in both the compare and the timing mode (an unknown name must not narrow
the gate to nothing).

    python3 -m unittest tools/test_check_oracle.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TOOL = os.path.join(HERE, "check_oracle.py")
sys.path.insert(0, HERE)
from check_oracle import TABLES  # noqa: E402

ORACLE = {"q_regions": "SELECT CAST(count(*) AS BIGINT) AS n FROM region"}


class CheckOracleTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.sf = os.path.join(tmp.name, "sf")
        self.out = os.path.join(tmp.name, "out")
        os.makedirs(self.sf)
        # a Verify dump is one parquet directory per query
        os.makedirs(os.path.join(self.out, "q_regions"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(ORACLE, f)
        con = duckdb.connect()
        # the tool opens a view over every table; only region has rows
        for t in TABLES:
            n = 5 if t == "region" else 0
            path = os.path.join(self.sf, f"{t}.parquet")
            con.sql(f"COPY (SELECT range AS k FROM range({n})) TO '{path}' (FORMAT parquet)")
        con.sql(f"CREATE VIEW region AS SELECT * FROM '{self.sf}/region.parquet'")
        part = os.path.join(self.out, "q_regions", "part-0.parquet")
        con.sql(f"COPY ({ORACLE['q_regions']}) TO '{part}' (FORMAT parquet)")
        con.close()

    def run_tool(self, *args):
        return subprocess.run([sys.executable, TOOL, self.out, self.sf, *args],
                              capture_output=True, text=True)

    def test_known_query_passes(self):
        r = self.run_tool("--only", "q_regions")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("OK   q_regions", r.stdout)
        self.assertIn("== 1 ok, 0 fail ==", r.stdout)

    def test_unknown_only_name_fails_and_is_named(self):
        for unknown in (["q_typo"], ["q_typo", "q_other"]):
            r = self.run_tool("--only", "q_regions", *unknown)
            self.assertNotEqual(r.returncode, 0, r.stdout)
            for name in unknown:
                self.assertIn(name, r.stderr)
            self.assertNotIn("q_regions", r.stderr)
            self.assertNotIn("0 fail", r.stdout)

    def test_unknown_only_name_fails_in_timing_mode(self):
        r = self.run_tool("--time", "1", "--only", "q_typo")
        self.assertNotEqual(r.returncode, 0, r.stdout)
        self.assertIn("q_typo", r.stderr)
        self.assertFalse(os.path.exists(os.path.join(self.out, "duck_times.json")))


if __name__ == "__main__":
    unittest.main()
