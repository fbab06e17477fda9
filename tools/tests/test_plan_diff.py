"""Self-tests for tools/plan_diff.py (stdlib only, no JVM).

    python3 -m unittest discover -s tools/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
TOOL = os.path.join(HERE, "..", "plan_diff.py")
sys.path.insert(0, os.path.join(HERE, ".."))
import plan_diff  # noqa: E402

# The same two queries planned in two JVMs: every id, hash and token moves.
DUMP_A = """[info] running (fork) graft.ExplainQ /data/sf0.001 q1_scan q2_agg
[error] 26/10/19 04:56:55 INFO SparkContext: Running Spark version 4.1.2
[info]
[info] ========== q1_scan ==========
[info] == Physical Plan ==
[info] * Project (2)
[info] +- Scan parquet  (1)
[info] (1) Scan parquet
[info] Location: InMemoryFileIndex [file:/tmp/graft_io_6422_vm/t/gen-build]
[info] Arguments: posexplode(transform(UnsafeArrayData@7a50b5f7, lambdafunction(slice(v#482, (lambda s_3#484 * 8), 8), lambda s_3#484, false)))
[info] ========== q2_agg ==========
[info] HashAggregate (3)
[info] +- Exchange (2)
[info]    +- Scan ExistingRDD (1)
[info] Arguments: [k#12L], MapPartitionsRDD[415] at localCheckpoint at Dedup.scala:1060
[info] Arguments: hashpartitioning(k#12L, 4), ENSURE_REQUIREMENTS, [plan_id=7641]
[info] Arguments: graft.mr.MRRunner$$$Lambda$2800/0x00007fec94da8e00@1b2c3d4e, obj#70: scala.Tuple2
[info] Location: InMemoryFileIndex [file:/tmp/graft_warehouse_3276_vm/graft_li_bucketed]
[warn] 26/10/19 04:56:58 WARN SomeLogger: noise
[info] ========== q3_distinct ==========
[info] Arguments: [[null, null, 0, n#5L], [ok#1L, null, 1, null], [null, ck#2L, 2, null]], [ok#1L, ck#2L, gid#7, n#5L]
[info] Keys [3]: [ok#1L, ck#2L, gid#7]
[info] Arguments: hashpartitioning(ok#1L, ck#2L, gid#7, 4), ENSURE_REQUIREMENTS, [plan_id=80]
[info] Arguments: [ok#1L ASC NULLS FIRST, ck#2L ASC NULLS FIRST, gid#7 ASC NULLS FIRST], false, 0
[info] Functions [3]: [partial_first(n#5L, true) FILTER (WHERE (gid#7 = 0)), partial_count(ok#1L) FILTER (WHERE (gid#7 = 1)), partial_count(ck#2L) FILTER (WHERE (gid#7 = 2))]
"""

DUMP_B_SAME = """[info] ========== q1_scan ==========
[info] == Physical Plan ==
[info] * Project (2)
[info] +- Scan parquet  (1)
[info] (1) Scan parquet
[info] Location: InMemoryFileIndex [file:/tmp/graft_io_9001_other/t/gen-build]
[info] Arguments: posexplode(transform(UnsafeArrayData@1c2d3e4f, lambdafunction(slice(v#9, (lambda s_17#11 * 8), 8), lambda s_17#11, false)))
[info] ========== q2_agg ==========
[info] HashAggregate (3)
[info] +- Exchange (2)
[info]    +- Scan ExistingRDD (1)
[info] Arguments: [k#77L], MapPartitionsRDD[502] at localCheckpoint at Dedup.scala:1053
[info] Arguments: hashpartitioning(k#77L, 4), ENSURE_REQUIREMENTS, [plan_id=12]
[info] Arguments: graft.mr.MRRunner$$$Lambda$2801/0x00007fd6a8da4b50@5e6f7a8b, obj#93: scala.Tuple2
[info] Location: InMemoryFileIndex [file:/tmp/graft_warehouse_26904_vm/graft_li_bucketed]
[info] ========== q3_distinct ==========
[info] Arguments: [[null, null, 0, n#15L], [ck#12L, null, 1, null], [null, ok#11L, 2, null]], [ck#12L, ok#11L, gid#17, n#15L]
[info] Keys [3]: [ck#12L, ok#11L, gid#17]
[info] Arguments: hashpartitioning(ck#12L, ok#11L, gid#17, 4), ENSURE_REQUIREMENTS, [plan_id=90]
[info] Arguments: [ck#12L ASC NULLS FIRST, ok#11L ASC NULLS FIRST, gid#17 ASC NULLS FIRST], false, 0
[info] Functions [3]: [partial_first(n#15L, true) FILTER (WHERE (gid#17 = 0)), partial_count(ok#11L) FILTER (WHERE (gid#17 = 2)), partial_count(ck#12L) FILTER (WHERE (gid#17 = 1))]
"""

# q2 gains an exchange: a real plan change.
DUMP_B_EXCHANGE = DUMP_B_SAME.replace(
    "[info] +- Exchange (2)\n[info]    +- Scan ExistingRDD (1)",
    "[info] +- Exchange (2)\n[info]    +- Exchange (4)\n[info]       +- Scan ExistingRDD (1)")


class PlanDiffTest(unittest.TestCase):
    def run_tool(self, a, b):
        with tempfile.TemporaryDirectory() as d:
            pa, pb = os.path.join(d, "a.txt"), os.path.join(d, "b.txt")
            with open(pa, "w") as f:
                f.write(a)
            with open(pb, "w") as f:
                f.write(b)
            return subprocess.run([sys.executable, TOOL, pa, pb],
                                  capture_output=True, text=True)

    def test_equal_after_masking(self):
        self.assertEqual(plan_diff.diff(DUMP_A, DUMP_B_SAME), [])
        r = self.run_tool(DUMP_A, DUMP_B_SAME)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout, "")

    def test_different_exchange_is_reported(self):
        found = plan_diff.diff(DUMP_A, DUMP_B_EXCHANGE)
        self.assertEqual([name for name, _ in found], ["q2_agg"])
        self.assertTrue(any("+   +- Exchange (4)" in line for line in found[0][1]))
        r = self.run_tool(DUMP_A, DUMP_B_EXCHANGE)
        self.assertEqual(r.returncode, 1)
        self.assertIn("== q2_agg", r.stdout)
        self.assertNotIn("== q1_scan", r.stdout)

    def test_warehouse_dir_is_masked(self):
        a = plan_diff.sections(DUMP_A)["q2_agg"]
        self.assertIn("Location: InMemoryFileIndex [file:/tmp/graft_warehouse_T/graft_li_bucketed]", a)

    def test_distinct_group_order_is_canonical(self):
        a = plan_diff.sections(DUMP_A)["q3_distinct"]
        self.assertEqual(a[0], "Arguments: [[G, n#NL], [ck#NL, G, null], [ok#NL, G, null]], "
                               "[ck#NL, ok#NL, gid#N, n#NL]")
        self.assertEqual(a[1], "Keys [3]: [ck#NL, ok#NL, gid#N]")
        self.assertEqual(a[3], "Arguments: [ck#NL ASC NULLS FIRST, ok#NL ASC NULLS FIRST, "
                               "gid#N ASC NULLS FIRST], false, 0")
        self.assertIn("FILTER (WHERE (gid#N = G))", a[4])

    def test_distinct_group_gaining_a_key_is_reported(self):
        b = DUMP_B_SAME.replace("[null, ok#11L, 2, null]", "[null, ok#11L, 2, ck#12L]")
        self.assertEqual([name for name, _ in plan_diff.diff(DUMP_A, b)], ["q3_distinct"])

    def test_query_missing_from_one_dump(self):
        only_q1 = DUMP_B_SAME[:DUMP_B_SAME.index("[info] ========== q2_agg")]
        self.assertEqual(plan_diff.diff(DUMP_A, only_q1),
                         [("q2_agg", ["only in A"]), ("q3_distinct", ["only in A"])])


if __name__ == "__main__":
    unittest.main()
