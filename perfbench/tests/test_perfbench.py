"""Tests of the benchmark itself: deterministic inputs, metric names that
match BENCHMARK.json, and an output check that is live.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROWS = {"orders": 300, "lineitem": 900}
NIGHTS = 3


def write_table(changesets, table, nights, path, corrupt=None):
    """Writes the expected table as parquet with DuckDB, the way the
    program would have left it; `corrupt` edits the rows first."""
    live, kinds = changesets.expected(table, nights)
    cols = sorted(kinds)
    sql_type = {"int": "INTEGER", "double": "DOUBLE"}
    rows = [[r[c] for c in cols] for r in live.values()]
    if corrupt:
        corrupt(cols, rows)
    os.makedirs(path)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (%s)" % ", ".join(
            '"%s" %s' % (c, sql_type.get(kinds[c], "VARCHAR")) for c in cols))
        con.executemany("INSERT INTO t VALUES (%s)" % ", ".join(
            "?" * len(cols)), rows)
        con.execute("COPY t TO '%s/part-0.parquet' (FORMAT PARQUET)" % path)
    finally:
        con.close()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.ChangeSets(7, ROWS, NIGHTS).write(a)
            gen.ChangeSets(7, ROWS, NIGHTS).write(b)
            gen.ChangeSets(8, ROWS, NIGHTS).write(c)
            cmp = filecmp.dircmp(a, b)
            self.assertFalse(cmp.left_only or cmp.right_only)
            for root, _, files in os.walk(a):
                for f in files:
                    x = os.path.join(root, f)
                    y = os.path.join(b, os.path.relpath(x, a))
                    z = os.path.join(c, os.path.relpath(x, a))
                    self.assertTrue(filecmp.cmp(x, y, shallow=False), x)
                    self.assertEqual(os.stat(x).st_mtime, os.stat(y).st_mtime)
                    self.assertFalse(filecmp.cmp(x, z, shallow=False), x)

    def test_nights_are_stamped_in_order(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.ChangeSets(1, ROWS, NIGHTS).write(tmp)
            stamps = []
            for night in sorted(os.listdir(tmp)):
                for root, _, files in os.walk(os.path.join(tmp, night)):
                    stamps += [(night, os.stat(os.path.join(root, f)).st_mtime)
                               for f in files]
            by_night = {}
            for night, t in stamps:
                by_night.setdefault(night, set()).add(t)
            times = [by_night[n] for n in sorted(by_night)]
            self.assertTrue(all(len(t) == 1 for t in times))
            self.assertEqual([t.pop() for t in times],
                             sorted(gen.BASE_MTIME + 3600 * n
                                    for n in range(NIGHTS + 1)))

    def test_changesets_carry_tombstones_drift_and_unique_keys(self):
        cs = gen.ChangeSets(3, ROWS, NIGHTS)
        for t in cs.tables:
            keys = [r["systemid"] for r in t.nights[0]]
            self.assertGreater(len(set(keys)), 0.98 * len(keys))
        orders, lineitem = cs.tables
        tombs = [r for r in orders.nights[1]
                 if r["systemcreatedby"] == gen.ZERO_GUID]
        self.assertTrue(tombs)
        self.assertTrue(all(r["systemid"] not in cs.expected("orders", 1)[0]
                            for r in tombs))
        self.assertEqual(lineitem.nights[1:], [[]] * NIGHTS)
        self.assertIn("promocode", orders.schema(gen.DRIFT_NIGHT))
        self.assertNotIn("promocode", orders.schema(gen.DRIFT_NIGHT - 1))


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))

    def test_per_layer_names_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)

    def test_printed_end_to_end_names_match(self):
        stats = [(100, 1000)] * 5
        rec = {
            "setup": [(3.0, 0), (2.0, 0), (2.5, 0)],
            "night": [(n, 1.0 + n, 0, 5000) for n in (1, 2, 3, 4)],
            "read": [(k, 10.0 + i, "") for i in range(3)
                     for k, n in run.MIX for _ in range(n)],
            "space": 2.0,
        }
        values = run.end_to_end(stats, rec, 1.0)
        self.assertEqual(sorted(values), sorted(n for n, _ in run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"])
                          for m in self.spec["end_to_end"]], run.END_TO_END)
        self.assertTrue(all(v > 0 for v in values.values()))


class OutputCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.cs = gen.ChangeSets(5, ROWS, NIGHTS)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def verify(self, name, corrupt=None, table="orders"):
        path = os.path.join(self.tmp, name)
        write_table(self.cs, table, NIGHTS, path, corrupt)
        return check.verify_table(self.cs, table, NIGHTS, path)

    def test_expected_table_passes(self):
        for table in ("orders", "lineitem"):
            ok, _, msg = self.verify("good_" + table, table=table)
            self.assertTrue(ok, msg)

    def test_corrupted_value_fails(self):
        def corrupt(cols, rows):
            i = cols.index("totalprice")
            rows[0][i] = "%.2f" % (float(rows[0][i]) + 0.01)
        self.assertFalse(self.verify("value", corrupt)[0])

    def test_dropped_row_fails(self):
        self.assertFalse(self.verify("row", lambda c, r: r.pop())[0])

    def test_resurrected_tombstone_fails(self):
        tomb = next(r for r in self.cs.tables[0].nights[2]
                    if r["systemcreatedby"] == gen.ZERO_GUID)["systemid"]

        def corrupt(cols, rows):
            row = list(rows[0])
            row[cols.index("systemid")] = tomb
            rows.append(row)
        self.assertFalse(self.verify("tomb", corrupt)[0])

    def test_read_answers_follow_the_bookkeeping(self):
        oracle = check.ReadOracle(self.cs, NIGHTS, 1)
        live = self.cs.expected("orders", NIGHTS)[0]
        key, row = next(iter(live.items()))
        self.assertEqual(oracle.answer("lookup", [key]),
                         "%s:%s" % (row["orderkey"], row["totalprice"]))
        self.assertEqual(oracle.answer("lookup", ["{absent}"]), "")
        self.assertEqual(oracle.answer("keyset", [",".join([key, key])]), key)
        self.assertEqual(oracle.answer("history", []), str(NIGHTS + 1))


class BuildTest(unittest.TestCase):
    def test_checkout_without_program_sources_fails_to_build(self):
        with tempfile.TemporaryDirectory() as tmp:
            with self.assertRaises(build.BuildError):
                build.ensure(tmp, os.path.join(tmp, ".bench_build"))


if __name__ == "__main__":
    unittest.main()
