"""Pinned-digest checks and result scoring in run.py.

Run with: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import run  # noqa: E402

PINS = {"corpus_curate": {"3": {"input": "aaaa", "output": "bbbb"}}}


def result(output_digest, failures=(), seed=3):
    return {"workload": "corpus_curate", "seed": seed, "input_digest": "aaaa",
            "run_failures": [],
            "items": [{"kind": "untraced", "wall_s": 1.0, "rows": 10,
                       "digests": {"output": output_digest},
                       "failures": list(failures), "stats": {}}]}


class PinTest(unittest.TestCase):
    def test_pinned_output_passes(self):
        self.assertEqual(run.score(result("bbbb"), PINS)[:3], (True, 1, 0))

    def test_perturbed_output_fails(self):
        correct, attempted, failed, messages = run.score(result("bbbc"), PINS)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("output", messages[0])

    def test_unpinned_seed_relies_on_other_checks(self):
        self.assertTrue(run.score(result("zzzz", seed=4), PINS)[0])
        self.assertFalse(run.score(
            result("zzzz", ["no surviving documents"], seed=4), PINS)[0])

    def test_run_level_failure_fails_every_item(self):
        r = result("bbbb")
        r["run_failures"] = ["digest output differs across items"]
        self.assertEqual(run.score(r, PINS)[:3], (False, 1, 1))


if __name__ == "__main__":
    unittest.main()
