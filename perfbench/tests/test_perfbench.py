"""Self-tests of the benchmark's generator and answer checks.

    python3 -m unittest discover -s perfbench/tests -v

The last test compiles and starts the harness (a JVM), like a benchmark run.
"""
import argparse
import filecmp
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import run  # noqa: E402

SMALL = dict(pages=300, links_per_page=8, body_words=30)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            da = gen.wiki_dump(a, 7, **SMALL)
            db = gen.wiki_dump(b, 7, **SMALL)
            gen.wiki_dump(c, 8, **SMALL)
            self.assertTrue(filecmp.cmp(a, b, shallow=False))
            self.assertFalse(filecmp.cmp(a, c, shallow=False))
            self.assertEqual((da.src, da.dst), (db.src, db.dst))

    def test_reference_rules(self):
        self.assertEqual(gen.clean_link(" Foo Bar |label"), "Foo_Bar")
        for bad in ("File:x.jpg", "see image: y", "A#b", "T{1}", "a<b>"):
            self.assertIsNone(gen.clean_link(bad))
        page, links = gen.expected_links(
            "My page", "[[A b]] x [[A b|c]] [[Image:z.png]] [[ A b ]] [[C]]")
        self.assertEqual((page, links), ("My_page", ["A_b", "C"]))


class ReferencePageRankTest(unittest.TestCase):
    """The closed-form graphs of FIXTURES.md, after 8 iterations."""

    def rank8(self, n, edges):
        src, dst = zip(*edges)
        return gen.reference_pagerank(n, src, dst, 8)[-1]

    def assertClose(self, got, want):
        self.assertEqual(len(got), len(want))
        for g, w in zip(got, want):
            self.assertAlmostEqual(g, w, delta=1e-12 * w)

    def test_two_node_cycle(self):
        self.assertClose(self.rank8(2, [(0, 1), (1, 0)]), [0.5, 0.5])

    def test_star(self):
        n = 6  # leaves 1..5 link to the dangling centre 0
        r = self.rank8(n, [(i, 0) for i in range(1, n)])
        self.assertClose(r[1:], [0.15 / n] * (n - 1))
        self.assertAlmostEqual(r[0], 0.15 / n * (1 + 0.85 * (n - 1)), places=14)

    def test_dangling_chain(self):
        n = 12  # 0 -> 1 -> ... -> 11, the last page dangling
        r = self.rank8(n, [(i, i + 1) for i in range(n - 1)])
        want = [(1 - 0.85 ** (j + 1)) / n if j < 8 else 1 / n for j in range(n)]
        self.assertClose(r, want)


class CheckTest(unittest.TestCase):
    def test_ranked_output_check(self):
        index = {"A": 0, "B": 1, "C": 2}
        ref = [0.1, 5.0, 4.0]  # cut = 5/3: B and C pass
        with tempfile.TemporaryDirectory() as d:
            def write(lines):
                with open(os.path.join(d, "part-00000"), "w") as f:
                    f.write("".join(f"{p}\t{r}\n" for p, r in lines))
                return run.check_ranked(d, ref, index)
            self.assertIsNone(write([("B", 5.0), ("C", 4.0)]))
            self.assertIsNotNone(write([("C", 4.0), ("B", 5.0)]))  # order
            self.assertIsNotNone(write([("B", 5.0)]))  # missing page
            self.assertIsNotNone(write([("B", 5.0), ("C", 4.1)]))  # value


class FailedRunTest(unittest.TestCase):
    def test_cold_unit_failure_prints_an_incorrect_record(self):
        """A unit that throws ends the loop before any later unit: the run
        still prints its record, marked incorrect."""
        def jvm(mode, run_dir, timeout, **kw):
            return {"units": [{"kind": "first", "wall_s": 1.0, "error": "boom"}],
                    "ready_epoch_s": 0.0, "host": {}}, 0.0
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for trace in (0, 1):
            a = argparse.Namespace(workload="graph_serve", seed=1, seconds=1.0,
                                   trace=trace)
            out = io.StringIO()
            with tempfile.TemporaryDirectory() as d, \
                    mock.patch.object(run, "jvm", jvm), redirect_stdout(out):
                run.run(a, spec, d)
            rec = json.loads(out.getvalue().splitlines()[-1])
            self.assertEqual((rec["correct"], rec["attempted"], rec["failed"]),
                             (False, 1, 1))


class ProgramEdgesTest(unittest.TestCase):
    def test_expected_edges_equal_program_edges(self):
        """The generator's edge set equals WikiIngest.extractLinks +
        LinkGraph.removeRedLinks on the same dump."""
        run.build()
        with tempfile.TemporaryDirectory(dir=os.path.join(run.ROOT, ".bench_build")) as d:
            dump = os.path.join(d, "dump.xml")
            exp = gen.wiki_dump(dump, 3, **SMALL)
            out = os.path.join(d, "edges.tsv")
            rec, _ = run.jvm("edges", d, timeout=300, dump=dump, out=out)
            self.assertIsNotNone(rec)
            with open(out) as f:
                got = {tuple(line.split("\t")) for line in f.read().splitlines()}
            want = {(exp.titles[s], exp.titles[t]) for s, t in zip(exp.src, exp.dst)}
            self.assertEqual(len(want), len(exp.src))
            self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
