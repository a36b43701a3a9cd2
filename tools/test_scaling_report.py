"""Tests for scaling_report.py: python3 -m unittest discover tools"""
import io
import json
import os
import tempfile
import unittest

import scaling_report


def run_line(cores, sec, removed=100, resumed=0, docs=1000):
    return json.dumps({"docs": docs, "removed": removed, "cores": cores,
                       "sec": sec, "docsPerSec": round(docs / sec, 1),
                       "stealPct": 0.5, "resumed": resumed})


class ScalingReportTest(unittest.TestCase):

    def report(self, *lines):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "log.jsonl")
            with open(path, "w") as f:
                f.write("== repeat 1 cores 1 ==\n" + "\n".join(lines) + "\n")
            out = io.StringIO()
            errors = scaling_report.report(scaling_report.load([path]), out)
            return errors, out.getvalue()

    def test_matched_pair_prints_efficiency(self):
        errors, out = self.report(run_line(1, 40.0), run_line(4, 12.5),
                                  run_line(1, 50.0), run_line(4, 20.0))
        self.assertEqual(errors, [])
        # per-level best: 25 -> 80 d/s over 4x the cores
        self.assertIn("docs 1000: 1->4 cores  eff 0.800", out)

    def test_removed_mismatch_fails(self):
        errors, out = self.report(run_line(1, 40.0), run_line(4, 12.5, removed=99))
        self.assertEqual(len(errors), 1)
        self.assertIn("removed differs", errors[0])
        self.assertIn("FAIL", out)

    def test_resumed_run_fails(self):
        errors, _ = self.report(run_line(1, 40.0), run_line(4, 1.5, resumed=9))
        self.assertEqual(len(errors), 1)
        self.assertIn("resumed", errors[0])


if __name__ == "__main__":
    unittest.main()
