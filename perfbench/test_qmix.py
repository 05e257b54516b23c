"""Tests of the query_mix table generator (run by `build.py --test`)."""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import qmix  # noqa: E402


def digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.iterdir()):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_deterministic_per_seed_and_distinct_across_seeds(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (Path(tmp) / x for x in "abc")
            qmix.generate(a, 3)
            qmix.generate(b, 3)
            qmix.generate(c, 4)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            self.assertEqual(sorted(p.stem for p in a.iterdir()), sorted(qmix.TABLES))


if __name__ == "__main__":
    unittest.main()
