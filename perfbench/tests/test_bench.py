"""Pins what the benchmark times.

Run from the repository root (builds the program first when needed):

  python3 -m unittest discover -s perfbench/tests -v

- The timed action is a noop write, which runs the whole plan. For
  t05_pii_redact that plan holds the redaction projection, which a
  `count()` prunes away.
- Each named query's Spark job count repeats exactly across executions
  in one session when perfbench/job_counts.json marks it stable. Only
  such counts can back a claim that a change removed jobs.
"""
import json
import os
import shutil
import sys
import time
import unittest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)
import build  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402


class TimedActionTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        root = os.getcwd()
        classes = build.ensure(root)
        run_dir = os.path.join(root, ".bench_runs", f"probe-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            datagen.write(os.path.join(run_dir, "data"), 1, 0.1)
            run.run_jvm(root, classes, run_dir, ["--probe"], time.time() + 600)
            with open(os.path.join(run_dir, "out", "probe.json")) as f:
                cls.probe = json.load(f)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        with open(os.path.join(PERFBENCH, "job_counts.json")) as f:
            cls.declared = json.load(f)

    def test_noop_action_runs_t05_redaction(self):
        plan = self.probe["t05_noop_plan"]
        self.assertIn("regexp_replace", plan)
        self.assertIn("regexp_extract_all", plan)

    def test_count_prunes_t05_redaction(self):
        plan = self.probe["t05_count_plan"]
        self.assertTrue(plan)
        self.assertNotIn("regexp_replace", plan)

    def test_stable_job_counts_repeat(self):
        counts = self.probe["job_counts"]
        for q in self.declared["stable"]:
            # the first execution in a session also lists and infers
            # schemas; repeats are compared from the second one on
            self.assertEqual(len(set(counts[q][1:])), 1, f"{q}: {counts[q]}")

    def test_every_named_query_is_classified(self):
        classified = set(self.declared["stable"]) | set(self.declared["varying"])
        self.assertEqual(classified, set(self.probe["job_counts"]))


if __name__ == "__main__":
    unittest.main()
