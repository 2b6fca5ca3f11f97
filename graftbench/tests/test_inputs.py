"""The prepare step is a pure function of (workload, seed).

    python3 -m unittest discover -s graftbench/tests
"""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import gen  # noqa: E402


def digest(path):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class InputsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-inputs-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, workload):
        a, b, c = (os.path.join(self.tmp, f"{workload}-{k}") for k in "abc")
        gen.prepare(workload, 5, a)
        gen.prepare(workload, 5, b)
        gen.prepare(workload, 6, c)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_history_load(self):
        self.check("history_load")

    def test_interactive(self):
        self.check("interactive")

    def test_corpus_dedup(self):
        self.check("corpus_dedup")

    def test_checksum_is_order_independent(self):
        t = gen.history_table(1, 0, 1000)
        shuffled = t.take(list(reversed(range(t.num_rows))))
        self.assertEqual(gen.checksum(t), gen.checksum(shuffled))
        self.assertNotEqual(gen.checksum(t), gen.checksum(t.slice(1)))


if __name__ == "__main__":
    unittest.main()
