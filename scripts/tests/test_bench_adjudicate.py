"""Adjudicator self-tests. Run from the repository root:

    python3 -m unittest discover -s scripts/tests -v

Each test writes its own reference and window files to a temporary
directory; the committed bench/reference.json is never read or written.
"""
import argparse
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench_adjudicate  # noqa: E402

FLOOR = 0.010   # committed canary floor: clean = canary <= 15 ms
CLEAN = 0.010
DIRTY = 0.050


class ReportTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.dir = tmp.name
        self.ref_path = os.path.join(self.dir, "reference.json")
        patch = mock.patch.object(bench_adjudicate, "REF", self.ref_path)
        patch.start()
        self.addCleanup(patch.stop)

    def report(self, ref, window, round_=20):
        """Writes `ref` and one window ({name: (seconds, canary)}), runs
        `report --update-ref`, returns (stdout, reference after)."""
        with open(self.ref_path, "w") as f:
            json.dump(ref, f)
        win_path = os.path.join(self.dir, "w1.json")
        with open(win_path, "w") as f:
            json.dump({"label": "w1", "total": sum(t for t, _ in window.values()),
                       "loadavg": [0.0, 0.0, 0.0], "uptime_s": 3600.0,
                       "queries": {n: t for n, (t, _) in window.items()},
                       "canary": {n: c for n, (_, c) in window.items()}}, f)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            bench_adjudicate.cmd_report(argparse.Namespace(
                round=round_, touched="", update_ref=True, windows=[win_path]))
        with open(self.ref_path) as f:
            return out.getvalue(), json.load(f)

    @staticmethod
    def quiet(**extra):
        """A mostly clean window (so its median canary passes the
        window gate) of in-band queries, plus `extra`."""
        w = {f"steady_{i}": (1.0, CLEAN) for i in range(5)}
        w.update(extra)
        return w

    def reference(self, flags):
        names = [f"steady_{i}" for i in range(5)] + \
            ["q_dirty", "q_clean"]
        return {"queries": {n: 1.0 for n in names}, "flags": flags,
                "canary_floor": FLOOR, "updated_round": 19}

    def test_dirty_mover_keeps_its_streak_and_is_unadjudicated(self):
        out, ref = self.report(self.reference({"q_dirty": [19]}),
                               self.quiet(q_dirty=(2.0, DIRTY)))
        self.assertEqual(ref["flags"].get("q_dirty"), [19])
        contaminated = out.split("UNADJUDICATED", 1)
        self.assertEqual(len(contaminated), 2, out)
        self.assertIn("| q_dirty |", contaminated[1])
        self.assertNotIn("Movers on UNTOUCHED", out)

    def test_dirty_in_band_sample_does_not_clear_a_streak(self):
        _, ref = self.report(self.reference({"q_dirty": [19]}),
                             self.quiet(q_dirty=(1.0, DIRTY)))
        self.assertEqual(ref["flags"].get("q_dirty"), [19])

    def test_clean_mover_gains_the_round(self):
        out, ref = self.report(self.reference({}),
                               self.quiet(q_clean=(2.0, CLEAN)))
        self.assertEqual(ref["flags"].get("q_clean"), [20])
        self.assertIn("| q_clean | 1.000 | 2.000 | +100% | [20] | watch |", out)

    def test_clean_in_band_sample_clears_a_streak(self):
        _, ref = self.report(self.reference({"q_clean": [19]}),
                             self.quiet(q_clean=(1.0, CLEAN)))
        self.assertNotIn("q_clean", ref["flags"])

    def test_report_has_no_estimate_mode(self):
        argv = ["bench_adjudicate.py", "report", "--round", "20",
                "--canary-normalize", os.path.join(self.dir, "w1.json")]
        with mock.patch.object(sys, "argv", argv), \
                contextlib.redirect_stderr(io.StringIO()), \
                self.assertRaises(SystemExit):
            bench_adjudicate.main()


if __name__ == "__main__":
    unittest.main()
