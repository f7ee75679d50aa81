"""Generator self-check: the same seed gives byte-identical inputs, another
seed gives different ones.

    python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def same(a, b):
    fa = files(a)
    return fa == files(b) and all(filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False) for f in fa)


class GeneratorTest(unittest.TestCase):
    def write_rw(self, d, seed):
        gen.RwInputs(seed, n_keys=4000, batch=50, cycles=3, lookups=5).write(d)

    def test_rw_inputs_repeat_and_vary_with_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (f"{t}/{x}" for x in "abc")
            self.write_rw(a, 7)
            self.write_rw(b, 7)
            self.write_rw(c, 8)
            self.assertTrue(same(a, b), "same seed must give byte-identical inputs")
            for f in ["population.parquet", "env/c0000.parquet", "events/c0000.parquet", "lookups.json"]:
                self.assertFalse(filecmp.cmp(f"{a}/{f}", f"{c}/{f}", shallow=False),
                                 f"{f} must differ between seeds")

    def test_corpus_repeats_and_varies_with_seed(self):
        with tempfile.TemporaryDirectory() as t:
            gen.write_corpus(f"{t}/a", 0.001, 1)
            gen.write_corpus(f"{t}/b", 0.001, 1)
            gen.write_corpus(f"{t}/c", 0.001, 2)
            self.assertTrue(same(f"{t}/a", f"{t}/b"))
            self.assertFalse(filecmp.cmp(f"{t}/a/lineitem.parquet", f"{t}/c/lineitem.parquet",
                                         shallow=False))

    def test_every_envelope_has_its_change_log_row(self):
        rw = gen.RwInputs(3, n_keys=4000, batch=50, cycles=2, lookups=1)
        for envs, evs in zip(rw.cycle_envs, rw.cycle_events):
            good = [e for e in envs if e[2] is not None]
            self.assertEqual([e[0] for e in good], [e[0] for e in evs])
            for (eid, _, m), ev in zip(good, evs):
                key, delete, t = m[0], m[1], m[2]
                self.assertEqual(key, rw.key_of(ev[2] % 4, eid % 500))
                self.assertEqual(ev[1], t)
                self.assertEqual(ev[3] == "error", delete)


if __name__ == "__main__":
    unittest.main()
