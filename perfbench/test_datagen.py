"""The generated tables are the reference tables.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest

import datagen


class ReferenceTest(unittest.TestCase):
    def test_sf001_matches_the_reference_checksums(self):
        with tempfile.TemporaryDirectory() as out:
            datagen.write(out, 0.01, 42)
            self.assertEqual(datagen.check(out), [])

    def test_another_seed_differs(self):
        with tempfile.TemporaryDirectory() as out:
            datagen.write(out, 0.01, 43)
            self.assertIn("lineitem", datagen.check(out))


if __name__ == "__main__":
    unittest.main()
