"""Seeded generator: determinism and cross-seed structure."""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCALE, DOCS, VECS = 0.002, 400, 200


def planted_dups(path):
    """Documents whose text is another document's text plus ' dup'."""
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    bases = set(texts)
    return sum(1 for t in texts if t.endswith(" dup") and t[:-4] in bases)


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        work = os.path.join(HERE, ".work")
        os.makedirs(work, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-gen-", dir=work)
        cls.a = gen.generate(os.path.join(cls.tmp, "a"), 5, SCALE, DOCS, VECS)
        cls.b = gen.generate(os.path.join(cls.tmp, "b"), 5, SCALE, DOCS, VECS)
        cls.c = gen.generate(os.path.join(cls.tmp, "c"), 6, SCALE, DOCS, VECS)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def files(self, d, t):
        return os.path.join(d, f"{t}.parquet")

    def test_same_seed_gives_identical_bytes(self):
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(self.files(self.a, t),
                                        self.files(self.b, t), shallow=False), t)

    def test_other_seed_gives_other_bytes_same_shape(self):
        fixed = {"region", "nation"}  # constant dimension tables
        for t in gen.TABLES:
            fa, fc = self.files(self.a, t), self.files(self.c, t)
            if t not in fixed:
                self.assertFalse(filecmp.cmp(fa, fc, shallow=False), t)
            ma, mc = pq.ParquetFile(fa).metadata, pq.ParquetFile(fc).metadata
            self.assertEqual(ma.num_rows, mc.num_rows, t)
            self.assertEqual(pq.read_schema(fa), pq.read_schema(fc), t)

    def test_planted_near_duplicates_survive_reseeding(self):
        want = round(DOCS * gen.DUP_FRAC)
        for d in (self.a, self.c):
            self.assertEqual(planted_dups(self.files(d, "documents")), want)


if __name__ == "__main__":
    unittest.main()
