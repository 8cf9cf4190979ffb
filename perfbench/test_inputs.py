"""The generated inputs depend on the seed alone.

    python3 -m unittest perfbench/test_inputs.py
"""
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def digest(seed):
    r = subprocess.run([sys.executable, RUN, "--digest", "--seed", str(seed)],
                       stdout=subprocess.PIPE, text=True, check=True)
    return r.stdout.strip().splitlines()[-1]


class InputDigestTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, b, c = digest(7), digest(7), digest(8)
        self.assertRegex(a, r"^[0-9a-f]{64}$")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
