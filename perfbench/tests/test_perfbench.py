"""Benchmark self-tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They build the harness on first use (as `run.py` does) and start a JVM.
"""
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


class ManifestTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.build = run.Build()
        cls.build.ensure()
        cls.manifest = run.load_manifest()
        cls.faces = sorted(cls.build.oracle)

    def test_workloads_partition_every_face(self):
        parts = run.partition(self.faces, self.manifest)
        assigned = [f for fs in parts.values() for f in fs]
        self.assertEqual(sorted(assigned), self.faces)

    def test_unassigned_face_is_rejected(self):
        with self.assertRaises(ValueError):
            run.partition(self.faces + ["zzz_new_face"], self.manifest)

    def test_selections_come_from_their_family(self):
        parts = run.partition(self.faces, self.manifest)
        for w, spec in self.manifest["workloads"].items():
            self.assertTrue(spec["faces"], w)
            self.assertEqual(len(set(spec["faces"])), len(spec["faces"]), w)
            self.assertLessEqual(set(spec["faces"]), set(parts[w]), w)

    def test_every_face_has_oracle_sql(self):
        self.assertEqual([f for f in self.faces if not self.build.oracle[f]], [])


class BuildKeyTest(unittest.TestCase):
    """An edit to any build input gives another build directory, so a
    stale build is never timed."""

    def test_key_follows_every_file(self):
        base = os.path.join(run.Build().root, "keytest")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(os.path.join(base, "src"), exist_ok=True)
        with mock.patch.object(run, "ROOT", base):
            for name, text in (("src/a.scala", "object A"), ("build.sbt", "name := \"x\"")):
                with open(os.path.join(base, name), "w") as f:
                    f.write(text)
            before = run.content_key(["build.sbt", "src"])
            with open(os.path.join(base, "src", "a.scala"), "a") as f:
                f.write(" {}")
            edited = run.content_key(["build.sbt", "src"])
            with open(os.path.join(base, "src", "b.scala"), "w") as f:
                f.write("")
            added = run.content_key(["build.sbt", "src"])
        self.assertEqual(len({before, edited, added}), 3)


class FailureTest(unittest.TestCase):
    """A face that throws and a face whose result disagrees with its digest
    are both failures, and neither contributes a time."""

    def test_failures_are_counted_and_never_timed(self):
        good, corrupt, throws = "tpch_pricing_summary", "tpch_filtered_revenue", "zzz_forced_throw"
        real_digests = run.expected_digests

        def corrupted_digests(*args):
            expected = real_digests(*args)
            expected[corrupt] = dict(expected[corrupt], md5="0" * 32)
            return expected

        manifest = run.load_manifest()
        manifest["workloads"]["relational"]["faces"] = [good, corrupt]
        out = io.StringIO()
        with mock.patch.object(run, "expected_digests", corrupted_digests), \
                mock.patch.object(run, "load_manifest", lambda: manifest), \
                contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "relational", "--seed", "7", "--seconds", "0",
                           "--inject-throw", throws])
        lines = out.getvalue().strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(rc, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], 3)
        self.assertEqual(result["failed"], 2)
        self.assertTrue(any(f"FAILED {corrupt}: check" in l for l in lines))
        self.assertTrue(any(f"FAILED {throws}: pass -1: build" in l for l in lines))

        runs = os.path.join(run.Build().root, "runs")
        run_dir = max((os.path.join(runs, d) for d in os.listdir(runs)),
                      key=os.path.getmtime)
        with open(os.path.join(run_dir, "harness.json")) as f:
            res = json.load(f)
        thrown = [s for s in res["samples"] if s[1] == throws]
        self.assertTrue(thrown and all(s[6] is not None for s in thrown))
        # the timings are exactly those of the one good face
        metrics, _, passes = run.end_to_end(res, {good})
        good_steady = [s[2] + s[3] + s[4] for s in res["samples"] if s[1] == good and s[0] >= 1]
        self.assertEqual(passes, len(good_steady))
        self.assertAlmostEqual(metrics["suite_s"][0], statistics.median(good_steady))
        self.assertAlmostEqual(result["metrics"]["suite_s"]["value"], metrics["suite_s"][0])


if __name__ == "__main__":
    unittest.main()
