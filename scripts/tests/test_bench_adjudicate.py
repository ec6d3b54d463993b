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

KEY = "sf0.01|4"
CELL = KEY.replace("|", "\\|")
STEADY = [5, 11, 433384, 6000]   # jobs, tasks, shuffle_write_b, input_records


class ReportTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.dir = tmp.name
        self.ref_path = os.path.join(self.dir, "reference.json")
        patch = mock.patch.object(bench_adjudicate, "REF", self.ref_path)
        patch.start()
        self.addCleanup(patch.stop)

    def window(self, label, faces, sf="/data/sf0.01", cpus=4, errors=None):
        """Writes one window: faces = {name: (seconds, counters)}."""
        path = os.path.join(self.dir, label + ".json")
        with open(path, "w") as f:
            json.dump({"label": label, "sf": sf, "cpus": cpus,
                       "total": sum(t for t, _ in faces.values()),
                       "queries": {n: t for n, (t, _) in faces.items()},
                       "counters": {n: c for n, (_, c) in faces.items()},
                       "errors": errors or {}}, f)
        return path

    def report(self, ref, windows, touched=""):
        """Writes `ref`, runs `report --update-ref` over `windows`,
        returns (exit code, stdout, reference after)."""
        with open(self.ref_path, "w") as f:
            json.dump(ref, f)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = bench_adjudicate.cmd_report(argparse.Namespace(
                round=20, touched=touched, update_ref=True, windows=windows))
        with open(self.ref_path) as f:
            return rc, out.getvalue(), json.load(f)

    @staticmethod
    def reference(key=KEY, seconds=1.0):
        return {"seconds": {key: {"q": seconds, "other": 1.0}},
                "counters": {key: {"q": STEADY, "other": STEADY}}}

    def test_one_more_job_flags_an_untouched_face_even_when_faster(self):
        w = self.window("w1", {"q": (0.5, [6, 11, 433384, 6000]),
                               "other": (1.0, STEADY)})
        rc, out, ref = self.report(self.reference(), [w])
        self.assertEqual(rc, 1)
        movers = out.split("Counter movers on UNTOUCHED faces", 1)
        self.assertEqual(len(movers), 2, out)
        self.assertIn(f"| {CELL} | q | jobs |", movers[1])
        self.assertNotIn("| other |", movers[1])
        # a mover keeps its reference, so the next round flags it again
        self.assertEqual(ref["counters"][KEY]["q"], STEADY)

    def test_equal_counters_with_triple_wall_time_are_advisory(self):
        w = self.window("w1", {"q": (3.0, STEADY), "other": (1.0, STEADY)})
        rc, out, _ = self.report(self.reference(), [w])
        self.assertEqual(rc, 0)
        self.assertIn("drift gate clean", out)
        advisory = out.split("Wall-time movers (advisory", 1)
        self.assertEqual(len(advisory), 2, out)
        self.assertIn(f"| {CELL} | q | 1.000 | 3.000 | +200% |", advisory[1])

    def test_a_reference_under_another_key_is_never_compared(self):
        w = self.window("w1", {"q": (1.0, [9, 99, 10 ** 7, 10 ** 6]),
                               "other": (1.0, STEADY)}, cpus=8)
        rc, out, ref = self.report(self.reference(), [w])
        self.assertEqual(rc, 0, out)
        self.assertIn("drift gate clean", out)
        self.assertEqual(ref["counters"][KEY]["q"], STEADY)
        self.assertEqual(ref["counters"]["sf0.01|8"]["q"],
                         [9, 99, 10 ** 7, 10 ** 6])

    def test_touched_rise_passes_and_is_folded_in(self):
        risen = [7, 19, 500000, 6000]
        w = self.window("w1", {"q": (1.0, risen), "other": (1.0, STEADY)})
        rc, out, ref = self.report(self.reference(), [w], touched="q")
        self.assertEqual(rc, 0, out)
        self.assertIn("Counter rises on TOUCHED faces", out)
        self.assertEqual(ref["counters"][KEY]["q"], risen)

    def test_shuffle_jitter_inside_the_band_does_not_flag(self):
        jitter = [5, 11, 433387, 6000]
        w = self.window("w1", {"q": (1.0, jitter), "other": (1.0, STEADY)})
        rc, out, _ = self.report(self.reference(), [w])
        self.assertEqual(rc, 0, out)
        outside = [5, 11, int(433384 * 1.02), 6000]
        w = self.window("w2", {"q": (1.0, outside), "other": (1.0, STEADY)})
        rc, out, _ = self.report(self.reference(), [w])
        self.assertEqual(rc, 1, out)
        self.assertIn("| q | shuffle_write_b |", out)

    def test_min_over_windows_gates_and_max_seeds(self):
        # a face whose jobs differ between runs of one commit (14 vs 15)
        # is seeded at the max and then passes with either value
        a = self.window("a", {"q": (1.0, [14, 30, 0, 10])})
        b = self.window("b", {"q": (1.0, [15, 31, 0, 10])})
        rc, _, ref = self.report({}, [a, b])
        self.assertEqual(rc, 0)
        self.assertEqual(ref["counters"][KEY]["q"], [15, 31, 0, 10])
        rc, out, _ = self.report(ref, [b])
        self.assertEqual(rc, 0, out)

    def test_a_face_that_threw_fails_the_gate(self):
        w = self.window("w1", {"other": (1.0, STEADY)},
                        errors={"q": "java.lang.IllegalStateException: boom"})
        rc, out, _ = self.report(self.reference(), [w])
        self.assertEqual(rc, 1, out)
        self.assertIn(f"- {KEY} q", out)

    def test_removed_subcommand_and_flag_are_rejected(self):
        for argv in (["resolve", "--round", "20", "--artifact", "x.json"],
                     ["report", "--round", "20", "--canary-normalize",
                      os.path.join(self.dir, "w1.json")]):
            with mock.patch.object(sys, "argv", ["bench_adjudicate.py"] + argv), \
                    contextlib.redirect_stderr(io.StringIO()), \
                    self.assertRaises(SystemExit) as e:
                bench_adjudicate.main()
            self.assertEqual(e.exception.code, 2, argv)


class RecordTest(unittest.TestCase):
    def test_bench_output_without_counters_is_refused(self):
        text = '{"metric":"total","value":1.0,"unit":"sec","queries":{"q":1.0}}\n'
        with self.assertRaises(SystemExit):
            bench_adjudicate.parse_bench_lines(text)

    def test_counters_line_is_parsed(self):
        text = ('noise\n{"metric":"total","value":1.0,"unit":"sec",'
                '"queries":{"q":1.0},"sf":"/d/sf0.01","passes":2}\n'
                '{"metric":"counters","cpus":4,"sf":"/d/sf0.01",'
                '"queries":{"q":[5,11,0,6000]}}\n'
                '{"metric":"total","value":1.0,"unit":"sec","sf":"/d/sf0.01",'
                '"passes":2,"nqueries":1}\n')
        bench, counters = bench_adjudicate.parse_bench_lines(text)
        self.assertEqual(bench["queries"], {"q": 1.0})
        self.assertEqual(bench_adjudicate.key(
            {"sf": counters["sf"], "cpus": counters["cpus"],
             "counters": counters["queries"]}), KEY)


if __name__ == "__main__":
    unittest.main()
