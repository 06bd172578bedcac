"""The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402
import run as R  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(same_tree(os.path.join(a, d), os.path.join(b, d))
                                                for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def gen(self, out, seed):
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "drain", "--seed", str(seed),
                        "--events", "3000", "--wide-events", "500", "--out", out], check=True)

    def test_same_seed_gives_byte_identical_output(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            self.gen(a, 7)
            self.gen(b, 7)
            self.gen(c, 8)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(same_tree(a, c))
            with open(os.path.join(a, "manifest.json")) as f:
                m = json.load(f)
            self.assertEqual((m["events"], m["wide_events"]), (3000, 500))
            self.assertTrue(os.listdir(os.path.join(a, "wide", "ods_base_log")))
            # the backlog crosses midnight, so is_new repair and daily UV do real work
            self.assertLess(m["t0_ms"], 1623196800000)
            self.assertGreater(m["t0_ms"] + m["span_ms"], 1623196800000)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(100))
        q, v, n = M.tail(xs)
        self.assertEqual((q, v, n), (0.9, 89, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_capped_at_p99_with_many_samples(self):
        q, v, n = M.tail(list(range(5000)))
        self.assertEqual((q, n), (0.99, 5000))
        self.assertEqual(v, 4949)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(M.tail([5, 1, 3]), (0.5, 3, 3))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))


class LagTest(unittest.TestCase):
    def test_lag_from_a_synthetic_sink_log(self):
        with tempfile.TemporaryDirectory() as d:
            md = os.path.join(d, "_spark_metadata")
            os.makedirs(md)
            files = {}
            for name, rows in [("part-0.json", [1000, 1500]), ("part-1.json", [4000])]:
                p = os.path.join(d, name)
                with open(p, "w") as f:
                    f.write("".join(json.dumps({"ts": t}) + "\n" for t in rows))
                files[name] = "file://" + p

            def log(batch, names, mtime):
                p = os.path.join(md, batch)
                with open(p, "w") as f:
                    f.write("v1\n" + "".join(json.dumps({"path": files[n], "action": "add"}) + "\n"
                                             for n in names))
                os.utime(p, (mtime, mtime))
            log("0", ["part-0.json"], 3.0)
            log("1.compact", ["part-0.json", "part-1.json"], 5.0)  # repeats batch 0's file
            with open(os.path.join(md, ".1.compact.tmp"), "w") as f:
                f.write("garbage")
            # part-0 became visible at 3 s, part-1 (first listed by the compacted log) at 5 s
            self.assertEqual(sorted(M.sink_lags(d, "ts")), [1000.0, 1500.0, 2000.0])
            self.assertEqual(sorted(M.sink_lags(d, "ts", origin_ms=2000)), [1000.0, 1000.0, 3000.0])
            self.assertEqual(M.sink_lags(d, "ts", since_ms=2000), [1000.0])
            self.assertEqual(M.committed_rows_by(d, 4.0), 2)


class OkFracTest(unittest.TestCase):
    def test_ok_frac_counts_failures_against_attempts(self):
        self.assertEqual(M.ok_frac(10, 0), 1.0)
        self.assertEqual(M.ok_frac(10, 2), 0.8)
        with self.assertRaises(ValueError):
            M.ok_frac(0, 0)

    def test_a_corrupted_expectation_counts_as_a_failed_operation(self):
        import duckdb
        from check_correctness import TABLES
        with tempfile.TemporaryDirectory() as d:
            sf, mix = os.path.join(d, "sf"), os.path.join(d, "mix")
            os.makedirs(sf)
            for t in TABLES:
                duckdb.sql("COPY (SELECT range AS k, range * 0.5 AS v FROM range(3)) TO '%s/%s.parquet'"
                           % (sf, t))
            sql = {"q01_x": "SELECT k, v FROM region"}
            os.makedirs(os.path.join(mix, "q01_x"))
            with open(os.path.join(mix, "oracle_sql.json"), "w") as f:
                json.dump(sql, f)

            def result(select):
                duckdb.sql("COPY (%s) TO '%s/q01_x/part-0.parquet'" % (select, mix))
            res = {"attempted": 1, "failed": 0, "failures": []}
            # row order does not matter
            result("SELECT k, v FROM '%s/region.parquet' ORDER BY k DESC" % sf)
            R.check_mix(sf, mix, res)
            self.assertEqual((res["attempted"], res["failed"]), (1, 0))
            # from here on the oracle's result is read back from its cache
            work, R.WORK = R.WORK, os.path.join(d, "work")
            try:
                R.cached_oracle(sf, mix)
            finally:
                R.WORK = work
            self.assertNotIn("region", open(os.path.join(mix, "oracle_sql.json")).read())
            R.check_mix(sf, mix, res)
            self.assertEqual((res["attempted"], res["failed"]), (1, 0))
            result("SELECT k, CASE WHEN k = 1 THEN 9.5 ELSE v END AS v FROM '%s/region.parquet'" % sf)
            R.check_mix(sf, mix, res)
            self.assertEqual((res["attempted"], res["failed"]), (1, 1))
            self.assertEqual(M.ok_frac(res["attempted"], res["failed"]), 0.0)

if __name__ == "__main__":
    unittest.main()
