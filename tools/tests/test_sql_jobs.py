"""Tests of tools/sql_jobs.py over a small synthetic event log.

    python3 -m unittest discover -s tools/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sql_jobs  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def exec_start(eid, t, desc):
    return {"Event": SQL + "Start", "executionId": eid, "time": t, "description": desc}


def exec_end(eid, t):
    return {"Event": SQL + "End", "executionId": eid, "time": t}


def job_start(jid, t, stages, eid=None):
    props = {} if eid is None else {"spark.sql.execution.id": str(eid)}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def task_end(stage, cpu_ns):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor CPU Time": cpu_ns}}


# execution 0: two jobs in sequence; execution 1: a broadcast job overlapping
# its write job; one RDD job outside any execution; a skipped stage (2) is
# listed again by job 3 but its tasks ran under job 2
LOG = [
    {"Event": "SparkListenerApplicationStart"},
    exec_start(0, 1000, "save at QueryWorkload.scala:1"),
    job_start(0, 1010, [0], eid=0), task_end(0, 4_000_000), task_end(0, 6_000_000),
    job_end(0, 1030),
    job_start(1, 1040, [1], eid=0), task_end(1, 5_000_000), job_end(1, 1050),
    exec_end(0, 1060),
    job_start(9, 1070, [9]), task_end(9, 1_000_000), job_end(9, 1075),
    exec_start(1, 1100, "save at QueryWorkload.scala:2"),
    job_start(2, 1120, [2], eid=1), task_end(2, 2_000_000),
    job_start(3, 1130, [2, 3], eid=1), task_end(3, 3_000_000), job_end(2, 1140),
    job_end(3, 1150),
    exec_end(1, 1200),
    exec_start(2, 1300, "collect at Spec.scala:3"),
    exec_end(2, 1310),
]


class SummaryTest(unittest.TestCase):
    def setUp(self):
        self.rows = {r["exec"]: r for r in sql_jobs.summarize(json.dumps(e) for e in LOG)}

    def test_sequential_jobs(self):
        r = self.rows[0]
        self.assertEqual((r["jobs"], r["tasks"]), (2, 3))
        for col, want in (("gap_s", 0.010), ("jobs_s", 0.030), ("between_s", 0.010),
                          ("tail_s", 0.010), ("total_s", 0.060), ("cpu_s", 0.015)):
            self.assertAlmostEqual(r[col], want, msg=col)

    def test_overlapping_jobs_count_their_union_once(self):
        r = self.rows[1]
        self.assertEqual((r["jobs"], r["tasks"]), (2, 2))
        self.assertAlmostEqual(r["jobs_s"], 0.030)
        self.assertAlmostEqual(r["between_s"], 0.0)
        self.assertAlmostEqual(r["gap_s"] + r["jobs_s"] + r["between_s"] + r["tail_s"],
                               r["total_s"])
        self.assertAlmostEqual(r["cpu_s"], 0.005)

    def test_execution_without_jobs(self):
        r = self.rows[2]
        self.assertEqual((r["jobs"], r["tasks"], r["jobs_s"]), (0, 0, 0))
        self.assertAlmostEqual(r["gap_s"], r["total_s"])

    def test_jobs_outside_any_execution(self):
        r = self.rows[sql_jobs.NO_EXEC]
        self.assertEqual((r["jobs"], r["tasks"]), (1, 1))
        self.assertAlmostEqual(r["cpu_s"], 0.001)
        self.assertIsNone(r["gap_s"])

    def test_render(self):
        lines = sql_jobs.render(sql_jobs.summarize(json.dumps(e) for e in LOG)).splitlines()
        self.assertEqual(len(lines), 1 + 4 + 1)  # header, 3 executions + outside, totals
        self.assertEqual(lines[-1].split()[:3], ["total", "5", "6"])
        self.assertIn("3 SQL executions", lines[-1])


class LogFilesTest(unittest.TestCase):
    def test_file_rolling_dir_and_newest_log(self):
        with tempfile.TemporaryDirectory() as d:
            single = os.path.join(d, "local-1")
            rolling = os.path.join(d, "eventlog_v2_local-2")
            os.mkdir(rolling)
            parts = [os.path.join(rolling, f"events_{i}_local-2") for i in (10, 2, 1)]
            for p in [single] + parts + [os.path.join(rolling, "appstatus_local-2")]:
                open(p, "w").close()
            os.utime(single, (1, 1))
            os.utime(rolling, (2, 2))
            self.assertEqual(sql_jobs.log_files(single), [single])
            want = [parts[2], parts[1], parts[0]]
            self.assertEqual(sql_jobs.log_files(rolling), want)
            self.assertEqual(sql_jobs.log_files(d), want)


if __name__ == "__main__":
    unittest.main()
