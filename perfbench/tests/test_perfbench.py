"""Self-tests of the benchmark's input generator, output checks and BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests

They need numpy and duckdb, not the JVM.
"""
import collections
import json
import os
import re
import sys
import tempfile
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402

DELIMS = re.compile(r"[ ,.\"']+")


def read(path):
    with open(path) as fh:
        return fh.read()


def recount(paths):
    """Word counts of the files as the word-count job tokenizes them."""
    counts = collections.Counter()
    for p in paths:
        with open(p) as fh:
            for line in fh:
                counts.update(t for t in DELIMS.split(line.rstrip("\n")) if t)
    return counts


def write_output(out_dir, tally, n_files):
    """A correct job output: keys hashed to files, ascending within each."""
    os.makedirs(out_dir, exist_ok=True)
    buckets = [[] for _ in range(n_files)]
    for k, v in tally.items():
        buckets[zlib.crc32(k.encode()) % n_files].append((k, v))
    for i, b in enumerate(buckets):
        with open(os.path.join(out_dir, f"part-{i:05d}"), "w") as fh:
            fh.writelines(f"{k} {v}\n" for k, v in sorted(b))


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        paths, tally = corpus.generate(seed, d, 2, 40_000)
        return [read(p) for p in paths], tally, paths

    def test_same_seed_same_corpus(self):
        a, ta, _ = self.generate(7)
        b, tb, _ = self.generate(7)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)

    def test_other_seed_other_corpus(self):
        a, _, _ = self.generate(7)
        b, _, _ = self.generate(8)
        self.assertNotEqual(a, b)

    def test_tally_equals_recount(self):
        _, tally, paths = self.generate(9)
        self.assertEqual(dict(recount(paths)), tally)

    def test_lines_have_40_to_79_tokens(self):
        texts, _, _ = self.generate(10)
        for line in texts[0].splitlines():
            self.assertTrue(40 <= len([t for t in DELIMS.split(line) if t]) <= 79)


class WordCountCheckTest(unittest.TestCase):
    tally = {"apple": 3, "bee": 1, "cat": 12, "dog": 2, "eel": 5, "fig": 7}

    def output(self):
        d = tempfile.mkdtemp()
        write_output(d, self.tally, 3)
        return d

    def edit(self, path, fn):
        lines = read(path).splitlines(keepends=True)
        with open(path, "w") as fh:
            fh.writelines(fn(lines))

    def parts(self, d):
        return sorted(os.path.join(d, f) for f in os.listdir(d) if os.path.getsize(os.path.join(d, f)))

    def test_accepts_correct_output(self):
        problems, n = checks.check_wordcount(self.output(), self.tally, 3)
        self.assertEqual(problems, [])
        self.assertEqual(n, len(self.tally))

    def test_rejects_unsorted_file(self):
        d = self.output()
        p = max(self.parts(d), key=lambda p: read(p).count("\n"))
        self.assertGreater(read(p).count("\n"), 1)
        self.edit(p, lambda ls: ls[::-1])
        self.assertTrue(checks.check_wordcount(d, self.tally, 3)[0])

    def test_rejects_key_in_two_files(self):
        d = self.output()
        a, b = self.parts(d)[:2]
        moved = read(a).splitlines(keepends=True)[0]
        self.edit(b, lambda ls: sorted(ls + [moved]))
        self.assertTrue(any("in part" in p for p in checks.check_wordcount(d, self.tally, 3)[0]))

    def test_rejects_count_off_by_one(self):
        d = self.output()
        p = self.parts(d)[0]
        self.edit(p, lambda ls: [f"{ls[0].split()[0]} {int(ls[0].split()[1]) + 1}\n"] + ls[1:])
        self.assertTrue(any("tally" in p for p in checks.check_wordcount(d, self.tally, 3)[0]))

    def test_rejects_missing_key_and_wrong_file_count(self):
        d = self.output()
        p = self.parts(d)[0]
        self.edit(p, lambda ls: ls[1:])
        self.assertTrue(checks.check_wordcount(d, self.tally, 3)[0])
        self.assertTrue(checks.check_wordcount(self.output(), self.tally, 4)[0])


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.dir = tempfile.mkdtemp()
        self.base = os.path.join(self.dir, "q.sf0.01.abc")
        sql = "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, 'b', 1.5)) t(k, s, x)"
        self.con.execute(f"COPY ({sql}) TO '{self.base}.parquet' (FORMAT PARQUET)")
        rel = self.con.sql(f"SELECT * FROM '{self.base}.parquet'")
        with open(self.base + ".json", "w") as fh:
            json.dump({"cols": list(rel.columns), "types": [str(t) for t in rel.types]}, fh)

    def result(self, sql):
        d = tempfile.mkdtemp(dir=self.dir)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        return d

    def test_accepts_same_rows_with_columns_reordered(self):
        d = self.result("SELECT * FROM (VALUES ('a', 0.5::DOUBLE, 1::BIGINT), "
                        "('b', 1.5, 2)) t(s, x, k)")
        self.assertEqual(checks.check_query(self.con, d, self.base), [])

    def test_rejects_perturbed_row(self):
        d = self.result("SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), "
                        "(2, 'b', 1.5000001)) t(k, s, x)")
        self.assertTrue(checks.check_query(self.con, d, self.base))

    def test_rejects_row_order_count_and_type_changes(self):
        for sql in ("SELECT * FROM (VALUES (2::BIGINT, 'b', 1.5::DOUBLE), (1, 'a', 0.5)) t(k, s, x)",
                    "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE)) t(k, s, x)",
                    "SELECT * FROM (VALUES (1::INTEGER, 'a', 0.5::DOUBLE), (2, 'b', 1.5)) t(k, s, x)"):
            self.assertTrue(checks.check_query(self.con, self.result(sql), self.base), sql)

    def test_rejects_missing_oracle(self):
        d = self.result("SELECT 1 AS k")
        self.assertTrue(checks.check_query(self.con, d, self.base + "x"))

    def test_oracle_path_is_keyed_by_sql(self):
        a = checks.oracle_path("c", "q1", "sf0.01", "SELECT 1")
        self.assertEqual(a, os.path.join("c", "q1.sf0.01.e004ebd5b5532a4b85984a62"))
        self.assertNotEqual(a, checks.oracle_path("c", "q1", "sf0.01", "SELECT 2"))


class BenchmarkFileTest(unittest.TestCase):
    spec = json.loads(read(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")))

    def test_contract_limits(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in self.spec["workloads"]]
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))
        self.assertLessEqual(len(self.spec["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
