"""Self-tests of the benchmark. Run: python3 perfbench/test_perfbench.py"""
import glob
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import readsgen  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class ReadsTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(readsgen.generate(7, 300), readsgen.generate(7, 300))

    def test_seeds_differ_but_keep_the_byte_size(self):
        a, b = readsgen.generate(7, 300), readsgen.generate(8, 300)
        self.assertNotEqual(a[0], b[0])
        self.assertEqual(len(a[0]), len(b[0]))
        self.assertEqual(a[3], b[3])

    def test_rows_parse_and_cover_every_stitch_case(self):
        tsv, source, dest, n = readsgen.generate(3, 2000)
        rows = [l.split("\t") for l in tsv.splitlines()]
        self.assertEqual(len(rows), n)
        by_id = {int(r[0]): r for r in rows}
        for r in rows:
            self.assertEqual(int(r[1]), len(r[2]))
        # follow the best path: the highest-scored successor of each read
        cases, cur, hops = set(), source, 0
        while by_id[cur][5:]:
            nxt = max((int(s) for s in by_id[cur][5:]), key=lambda s: float(by_id[s][4]))
            co, cl = int(by_id[cur][3]), int(by_id[cur][1])
            no, nl = int(by_id[nxt][3]), int(by_id[nxt][1])
            e_c, e_n = co + cl - 1, no + nl - 1
            cases.add("A" if no < co else "B" if no < e_c and e_n > e_c else "C" if no == e_c else "D")
            cur, hops = nxt, hops + 1
        self.assertEqual(cur, dest)
        self.assertEqual(hops, 1999)
        self.assertEqual(cases, {"A", "B", "C", "D"})

    def test_golden_sample(self):
        contig = readsgen.golden_contig()
        self.assertEqual(len(contig), 3891 + 132 - 1304)
        self.assertEqual(len(readsgen.golden_tsv().splitlines()), 3)


class SelfTimeTest(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_no_children(self):
        self.assertEqual(stats.self_time(self.span(0, 100), []), 100)

    def test_disjoint_and_overlapping_children(self):
        kids = [self.span(10, 20), self.span(15, 30), self.span(50, 60)]
        self.assertEqual(stats.self_time(self.span(0, 100), kids), 100 - 20 - 10)

    def test_children_clipped_to_the_parent(self):
        kids = [self.span(-10, 5), self.span(95, 120), self.span(200, 300)]
        self.assertEqual(stats.self_time(self.span(0, 100), kids), 100 - 5 - 5)

    def test_nested_and_identical_children(self):
        kids = [self.span(10, 90), self.span(20, 30), self.span(10, 90)]
        self.assertEqual(stats.self_time(self.span(0, 100), kids), 20)


def fake_record():
    entries = {"a": {"s": 1.0, "fp": "x"}, "b": {"s": 0.5, "fp": "y"}}
    warmup = {"a": {"s": 9.0, "fp": "x"}, "b": {"s": 9.0, "fp": "y"}}
    passes = [{"pass": 1, "measured": False, "traced": False, "entries": warmup, "staged_s": 0.0,
               "heap_live_mb": 900.0, "layers": {}},
              {"pass": 2, "measured": True, "traced": True, "entries": entries, "staged_s": 0.0,
               "heap_live_mb": 101.0, "layers": {"jobs": 2.0, "stages": 2.0, "tasks": 8.0}},
              {"pass": 3, "measured": True, "traced": False, "entries": entries, "staged_s": 0.0,
               "heap_live_mb": 100.0, "layers": {}},
              {"pass": 4, "measured": True, "traced": False, "entries": entries, "staged_s": 0.0,
               "heap_live_mb": 102.0, "layers": {}}]
    spans = [{"kind": "pass", "name": "pass-2", "parent": None, "pass": 2, "start": 0, "end": 1500},
             {"kind": "entry", "name": "a", "parent": "pass-2", "pass": 2, "start": 0, "end": 1000},
             {"kind": "entry", "name": "b", "parent": "pass-2", "pass": 2, "start": 1000, "end": 1500},
             {"kind": "job", "name": "job-1", "parent": "a", "pass": 2, "start": 100, "end": 900},
             {"kind": "job", "name": "job-2", "parent": "b", "pass": 2, "start": 1100, "end": 1400},
             {"kind": "phase", "name": "planning", "parent": None, "pass": 2, "start": 50, "end": 90}]
    extra = {name: 1.0 for name in kernel_and_genomics_names()}
    return {"setup_s": 3.0, "passes": passes, "spans": spans, "extra": extra, "staged_disk_mb": 1.0}


def kernel_and_genomics_names():
    """Every layer-metric name the JVM side emits, read from its sources."""
    names = set()
    for f in glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True):
        with open(f) as fh:
            names |= set(re.findall(r'"((?:kernel|genomics)\.[a-z_]+)"', fh.read()))
    return names


class MetricsTest(unittest.TestCase):
    def test_printed_metrics_are_exactly_the_declared_ones(self):
        d = stats.declared()
        self.assertEqual(set(stats.end_to_end(fake_record())), set(d["end_to_end"]))
        self.assertEqual(set(stats.per_layer(fake_record())), set(d["per_layer"]))

    def test_jvm_layer_names_are_declared(self):
        names = kernel_and_genomics_names()
        self.assertTrue(names)
        self.assertLessEqual(names, set(stats.declared()["per_layer"]))

    def test_driver_gap_is_entry_time_outside_jobs(self):
        m = stats.per_layer(fake_record())
        self.assertAlmostEqual(m["scheduler.driver_gap_s"], (1000 - 800 + 500 - 300) / 1e3)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.04)
        self.assertEqual(m["scheduler.jobs"], 2.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.0)

    def test_warmup_passes_are_not_measured(self):
        m = stats.end_to_end(fake_record())
        self.assertAlmostEqual(m["pass_s"], 1.5)
        self.assertAlmostEqual(m["entry_geomean_ms"], (1000 * 500) ** 0.5)
        self.assertAlmostEqual(m["heap_live_mb"], 101.0)

    def test_undeclared_metric_is_refused(self):
        units = stats.declared()["end_to_end"]
        metrics = dict(stats.end_to_end(fake_record()), bogus=1.0)
        with self.assertRaises(ValueError):
            stats.result_line(metrics, units, True, 1, 0)


if __name__ == "__main__":
    unittest.main()
