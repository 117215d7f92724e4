"""Pins the generators' contract: the same seed gives byte-identical inputs,
another seed gives different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
from run import tree_digest  # noqa: E402


SCHEDULE = [("steady", 250 * j, 100) for j in range(8)] + [("burst", 2000, 1000)] * 4


def make(kind, seed, out):
    if kind == "tables":
        gen.gen_tables(seed, out, sf=0.001)
    elif kind == "stream":
        gen.gen_stream(seed, out, warm_events=500, schedule=SCHEDULE)
    else:
        gen.gen_table_rw(seed, out, keys=500, ops=70)
    return tree_digest(out)


class GeneratorsAreSeeded(unittest.TestCase):
    def check(self, kind):
        with tempfile.TemporaryDirectory() as d:
            a = make(kind, 7, os.path.join(d, "a"))
            b = make(kind, 7, os.path.join(d, "b"))
            c = make(kind, 8, os.path.join(d, "c"))
        self.assertEqual(a, b, f"{kind}: same seed, different bytes")
        self.assertNotEqual(a, c, f"{kind}: different seeds, same bytes")

    def test_battery_tables(self):
        self.check("tables")

    def test_event_slices(self):
        self.check("stream")

    def test_table_ops(self):
        self.check("rw")

    def test_slices_stay_inside_the_watermark(self):
        # Disorder must stay under the engine's 10-minute watermark: no event
        # may be older than the newest event of any earlier slice by 10 min.
        with tempfile.TemporaryDirectory() as d:
            gen.gen_stream(3, d, warm_events=2000, schedule=SCHEDULE)
            slices = sorted(os.listdir(os.path.join(d, "slices")))
            newest = None
            for s in slices:
                with open(os.path.join(d, "slices", s)) as f:
                    ts = [line.split(",")[1] for line in f]
                if newest is not None:
                    lag = dt.datetime.fromisoformat(newest) - dt.datetime.fromisoformat(min(ts))
                    self.assertLess(lag.total_seconds(), 600, s)
                newest = max(ts) if newest is None else max(newest, max(ts))

    def test_table_ops_cover_every_kind(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_table_rw(1, d, keys=500, ops=len(gen.CYCLE))
            with open(os.path.join(d, "ops.jsonl")) as f:
                kinds = {line.split('"op":"')[1].split('"')[0] for line in f}
        self.assertEqual(kinds, {"append", "merge", "lookup", "scan", "compact"})


if __name__ == "__main__":
    unittest.main()
