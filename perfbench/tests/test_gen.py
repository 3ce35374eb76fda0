import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402


def tree(folder):
    return sorted(os.path.relpath(os.path.join(d, f), folder)
                  for d, _, fs in os.walk(folder) for f in fs)


def same_bytes(a, b):
    return tree(a) == tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in tree(a))


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        return d, gen.ingest(d, seed, 3000)

    def test_same_seed_same_bytes_new_seed_different(self):
        a, ma = self.generate(7)
        b, mb = self.generate(7)
        c, mc = self.generate(8)
        self.assertTrue(same_bytes(a, b))
        self.assertEqual(ma, mb)
        self.assertFalse(same_bytes(a, c))
        self.assertNotEqual(ma, mc)

    def test_ingest_plants_the_mix_in_valid_lines(self):
        _, m = self.generate(1)
        lines = m["expected_lines"]
        self.assertEqual(len(lines), 1500 + 900 + 594 + 6)
        self.assertTrue(all(metrics.LINE_RE.match(l) for l in lines))

    def test_js_number_rendering(self):
        self.assertEqual(gen.js_num(5.0), "5")
        self.assertEqual(gen.js_num(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(gen.js_num(0.005), "0.005")
        self.assertEqual(gen.js_num(1234.5), "1234.5")


if __name__ == "__main__":
    unittest.main()
