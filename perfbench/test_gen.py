#!/usr/bin/env python3
"""Generator determinism test: the same seed gives byte-identical tables, a
different seed gives different ones, and every table lands in the
directory it was given.

    python3 perfbench/test_gen.py
"""
import hashlib
import shutil
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORK_DIR = HERE.parent / ".bench_build" / "perfbench" / "test_gen"


def digests(d: Path) -> dict:
    return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(d.iterdir()) if f.suffix == ".parquet"}


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b, c = (WORK_DIR / w / x for x in ("a", "b", "c"))
                info = gen.generate(w, 7, str(a))
                gen.generate(w, 7, str(b))
                gen.generate(w, 8, str(c))
                da, db, dc = digests(a), digests(b), digests(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertNotEqual(da, dc)
                # every table the generator reports is in its own directory
                self.assertEqual(sorted(info["bytes"]), sorted(da))


if __name__ == "__main__":
    unittest.main()
