"""Generator determinism: the same seed gives byte-identical inputs for
every workload, and a different seed gives different ones.

    python3 -m unittest discover -s obbench
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                           text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("selftest passed", r.stdout)
        for w in ("book_queries", "history_replay", "ingest", "curate"):
            self.assertIn(f"{w}", r.stdout)


if __name__ == "__main__":
    unittest.main()
