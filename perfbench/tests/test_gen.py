"""Generated inputs are a function of the seed alone.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


SCRATCH = os.path.join(os.path.dirname(gen.__file__), "..", ".perfbench", "tmp")


def tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix="gen-", dir=SCRATCH)


def generated(seed):
    d = tmpdir()
    gen.generate(seed, d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b, ignore=[".git"])
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)


class GenTest(unittest.TestCase):
    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_corpus_fingerprint(self):
        self.assertEqual(gen.check_corpus(), gen.EXPECTED_FINGERPRINT)

    def test_same_seed_same_bytes(self):
        a, b = generated(5), generated(5)
        with open(os.path.join(a, "inputs.json"), "rb") as fa, \
                open(os.path.join(b, "inputs.json"), "rb") as fb:
            ia, ib = fa.read(), fb.read()
        # the commit ids in the inputs pin the git history as well
        self.assertEqual(ia, ib)
        for d in ("repo", "git"):
            self.assertTrue(same_tree(os.path.join(a, d), os.path.join(b, d)), d)

    def test_other_seed_other_inputs(self):
        a, b = generated(5), generated(6)
        self.assertFalse(same_tree(os.path.join(a, "repo"), os.path.join(b, "repo")))
        ia, ib = (gen.generate(s, tmpdir()) for s in (5, 6))
        self.assertNotEqual(ia["pools"], ib["pools"])
        self.assertNotEqual(ia["mix"], ib["mix"])
        self.assertNotEqual(ia["analytics"], ib["analytics"])
        self.assertNotEqual(ia["update"], ib["update"])

    def test_edit_commit(self):
        u = gen.generate(8, tmpdir())["update"]
        self.assertEqual(len(u["changed"]), gen.EDIT_FILES)
        self.assertTrue(u["added"] and u["removed"] and u["inherits"])
        self.assertNotEqual(u["c1"], u["c2"])

    def test_sample_shape(self):
        for seed in range(1, 6):
            files, lines = gen.sample(gen.CORPUS, seed)
            self.assertEqual(len(files), gen.SAMPLE_FILES)
            self.assertTrue(gen.SAMPLE_LINES[0] <= lines <= gen.SAMPLE_LINES[1])
            # whole units: a sampled package brings all of its files
            units = dict(gen.units(gen.CORPUS))
            for name, fs in units.items():
                picked = [f for f in fs if f in files]
                self.assertIn(len(picked), (0, len(fs)), name)

    def test_misses(self):
        inputs = gen.generate(7, tmpdir())
        for shape, pool in inputs["pools"].items():
            self.assertEqual(len(pool), gen.POOL)
            misses = [k for k in pool if "absent" in k.lower()]
            self.assertEqual(len(misses), gen.POOL // gen.MISS_EVERY, shape)


if __name__ == "__main__":
    unittest.main()
