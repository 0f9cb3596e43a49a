"""Tests of the seeded tick generator.

Run: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def _ticks(self, name, seed):
        out = os.path.join(self.d, name)
        gen.ticks(out, seed, 3, 50, 20)
        return out

    def test_same_seed_gives_byte_identical_ticks(self):
        a, b = self._ticks("a", 7), self._ticks("b", 7)
        self.assertEqual(_files(a), _files(b))
        self.assertEqual(len(_files(a)), 6)
        for f in _files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_other_seed_gives_other_batches(self):
        a, c = self._ticks("a", 7), self._ticks("c", 8)
        for f in _files(a):
            ta = pq.read_table(os.path.join(a, f)).to_pydict()
            tc = pq.read_table(os.path.join(c, f)).to_pydict()
            self.assertNotEqual(ta, tc, f)

    def test_ticks_are_disjoint_copies_with_planted_dups(self):
        out = self._ticks("a", 7)
        docs = [pq.read_table(os.path.join(out, "docs", f"tick={k:05d}.parquet")).to_pydict()
                for k in range(3)]
        for k, t in enumerate(docs):
            self.assertTrue(all(i // gen.ID_OFFSET == k for i in t["doc_id"]))
            # the planted near-duplicates are each tick's last rows
            n = round(gen.DUP_SHARE * 50)
            own, planted = t["text"][:-n], t["text"][-n:]
            self.assertTrue(all(x.split(" ")[0].startswith(f"c{k}") for x in own))
            self.assertTrue(all(x.endswith(f" c{k}dup") for x in planted))
            # a near-duplicate of an earlier tick's document, or in the
            # first tick of one of its own documents
            earlier = {x for j in range(k) for x in docs[j]["text"]} if k else set(own)
            self.assertTrue(all(x.rsplit(" ", 1)[0] in earlier for x in planted))
        vecs = pq.read_table(os.path.join(out, "vecs", "tick=00001.parquet"))
        pool = pq.read_table(os.path.join(gen.POOL, "embeddings.parquet"))
        self.assertEqual(len(vecs.column("embedding")[0].as_py()),
                         len(pool.column("embedding")[0].as_py()))


if __name__ == "__main__":
    unittest.main()
