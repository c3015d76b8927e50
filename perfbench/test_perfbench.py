"""Tests of the benchmark's own parts: seeded generators, the trace and
the untraced baseline a traced run compares with.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import books  # noqa: E402
import tables  # noqa: E402
import trace  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class SeededInputs(unittest.TestCase):

    def _same(self, a, b):
        self.assertEqual(_files(a), _files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
        return not mismatch and not errors

    def test_books_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            books.generate(7, a, n_books=5, total_mb=0.2)
            books.generate(7, b, n_books=5, total_mb=0.2)
            books.generate(8, c, n_books=5, total_mb=0.2)
            self.assertTrue(self._same(a, b))
            self.assertFalse(self._same(a, c))

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            tables.generate(7, a, sf=0.001)
            tables.generate(7, b, sf=0.001)
            tables.generate(8, c, sf=0.001)
            self.assertTrue(self._same(a, b))
            self.assertFalse(self._same(a, c))

    def test_books_are_gutenberg_shaped_latin1(self):
        with tempfile.TemporaryDirectory() as t:
            books.generate(3, t, n_books=3, total_mb=0.1)
            for name in _files(os.path.join(t, "books")):
                with open(os.path.join(t, "books", name), "rb") as f:
                    text = f.read().decode("latin-1")
                self.assertIn("*** START OF THIS PROJECT GUTENBERG EBOOK", text)
                self.assertIn("*** END OF THIS PROJECT GUTENBERG EBOOK", text)

    def test_expected_lines_follow_the_reference_rules(self):
        # "enlist's" and "café-face" keep inner non-letters and drop out;
        # "éca" and "ace" differ in a letter, so neither has a partner
        body = ("Listen, SILENT tinsel! the enlist's (inlets) don't "
                "café-face éca ace 1887 Elints")
        self.assertEqual(books.expected_lines([body]),
                         ["eilnst: elints inlets listen silent tinsel"])

    def test_planted_families_reach_the_output(self):
        with tempfile.TemporaryDirectory() as t:
            lines = books.expected_lines(books.generate(5, t, n_books=4,
                                                        total_mb=0.4))
        self.assertGreater(len(lines), 50)
        for line in lines:
            sig, words = line.split(": ")
            self.assertTrue(all("".join(sorted(w)) == sig
                                for w in words.split(" ")))


def _synthetic_trace(rng):
    """A run span with setup, passes, builds/actions and jobs that overlap
    each other and overrun their parent by listener-clock rounding."""
    spans = [{"id": 0, "parent": -1, "kind": "run", "name": "run",
              "start": 1000.0, "end": 9000.0},
             {"id": 1, "parent": 0, "kind": "setup", "name": "session",
              "start": 1000.0, "end": 2500.0}]
    t = 2600.0
    for p in range(3):
        pid = len(spans)
        spans.append({"id": pid, "parent": 0, "kind": "pass",
                      "name": f"pass-{p}", "start": t, "end": t + 2000.0})
        u = t + 5.0
        for kind in ("build", "action") * 3:
            sid = len(spans)
            dur = rng.uniform(50.0, 300.0)
            spans.append({"id": sid, "parent": pid, "kind": kind,
                          "name": kind, "start": u, "end": u + dur})
            for _ in range(rng.randint(0, 3)):
                js = u + rng.uniform(-1.0, dur)
                spans.append({"id": len(spans), "parent": sid, "kind": "job",
                              "name": "job", "start": round(js),
                              "end": round(js + rng.uniform(1.0, dur))})
            u += dur + rng.uniform(0.0, 20.0)
        t += 2100.0
    return spans


class Trace(unittest.TestCase):

    def test_trace_parses_and_self_times_cover_the_wall(self):
        spans = _synthetic_trace(random.Random(4))
        with tempfile.TemporaryDirectory() as t:
            path = os.path.join(t, "trace.jsonl")
            with open(path, "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
            read = trace.read(path)
        self.assertEqual(read, spans)
        table = trace.layer_table(read)
        self.assertAlmostEqual(table["wall_ms"], 8000.0)
        self.assertLessEqual(table["residual_ms"],
                             trace.RESIDUAL_FRAC * table["wall_ms"])
        selfs = sum(r["self_ms"] for r in table["layers"].values())
        self.assertAlmostEqual(selfs, table["wall_ms"], delta=1e-6)
        for row in table["layers"].values():
            self.assertLessEqual(row["self_ms"], row["total_ms"] + 1e-9)

    def test_self_time_of_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "run", "name": "r", "start": 0, "end": 100},
            {"id": 1, "parent": 0, "kind": "action", "name": "a", "start": 10, "end": 60},
            {"id": 2, "parent": 1, "kind": "job", "name": "j", "start": 20, "end": 40},
            {"id": 3, "parent": 1, "kind": "job", "name": "k", "start": 30, "end": 70},
        ]
        s = trace.self_times(spans)
        # job k is clipped to its action at 60; the jobs overlap on 30..40
        self.assertEqual(s, {0: 50.0, 1: 10.0, 2: 10.0, 3: 30.0})


class TracingBaseline(unittest.TestCase):

    def test_untraced_result_of_other_sources_is_not_reused(self):
        import run
        cwd = os.getcwd()
        with tempfile.TemporaryDirectory() as t:
            os.chdir(t)
            try:
                d = os.path.join(run.OUT_DIR, "books-s5")
                os.makedirs(d)
                with open(os.path.join(d, "result.json"), "w") as f:
                    json.dump({"correct": True, "stamp": "a",
                               "metrics": {"warm_s": 2.5}}, f)
                self.assertEqual(run.untraced_warm_s("books", 5, "a"), 2.5)
                self.assertIsNone(run.untraced_warm_s("books", 5, "b"))
                self.assertIsNone(run.untraced_warm_s("books", 6, "a"))
            finally:
                os.chdir(cwd)


if __name__ == "__main__":
    unittest.main()
