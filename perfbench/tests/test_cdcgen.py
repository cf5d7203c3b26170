"""The change-log generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests   (from the repository root)
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402


def gen(cp, seed, out):
    subprocess.run(["java", "-cp", cp, "graftbench.CdcGen", str(seed), out,
                    "20000", "3"], check=True, stdout=subprocess.DEVNULL)
    return sorted(os.listdir(out))


class CdcGenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build(quiet=True)

    def test_same_seed_gives_byte_identical_log(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            names = gen(self.cp, 7, a)
            self.assertEqual(names, gen(self.cp, 7, b))
            self.assertEqual(names, ["seg-0.log", "seg-1.log", "seg-2.log"])
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_log_in_the_same_format(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen(self.cp, 7, a)
            gen(self.cp, 8, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "seg-0.log"),
                                         os.path.join(b, "seg-0.log"), shallow=False))
            kinds = set()
            with open(os.path.join(b, "seg-0.log")) as f:
                for seq, line in enumerate(f):
                    fields = line.rstrip("\n").split("\t")
                    self.assertEqual(len(fields), 7)
                    self.assertEqual(int(fields[1]), seq)
                    kinds.add(fields[2])
            self.assertEqual(kinds, {"begin", "mutation", "commit", "rollback"})


if __name__ == "__main__":
    unittest.main()
